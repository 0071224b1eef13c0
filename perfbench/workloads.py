"""Workloads: which ``bench.BENCH_QUERIES`` rows each one runs, and why.

Rows are named, never copied: the worker resolves each name through
``bench.BENCH_QUERIES`` at run time, so a change to the query registry
stays a one-list edit there.

A run pays a fixed set-up and cold pass and then at least two warm
passes, so each workload's warm pass is kept at 5–8 s at local[4] for a
run to stay under a minute; the rows of the wider query families that are
left out are listed in ``perfbench/README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    rows: tuple[str, ...]
    why: str
    #: the LMDB and SequenceFile fixtures are built during set-up
    fixtures: bool = False


WORKLOADS = {
    "batch": Workload(
        rows=(
            "q1_pricing_summary", "q_neardup_pagerank", "q_image_dhash_native",
        ),
        why="a TPC-H scan and aggregate, a composed near-dup pipeline whose "
            "time goes to eager jobs while it is built, and image decode",
    ),
    "ingest_stream": Workload(
        rows=(
            "q_lmdb_scan", "q_train_epoch", "q_stream_parity_tumbling",
        ),
        why="from-spec LMDB decode, a training epoch over Arrow batches, and a "
            "watermarked streaming aggregation committing state every batch",
        fixtures=True,
    ),
}
