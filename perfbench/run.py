"""Benchmark entry point: run one workload at one seed and print its metrics.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The seed permutes the row order of every
table of the source scale-factor directory (``SPARK_GRAFT_SF_DIR``, the
engine's default otherwise) into a directory the benchmark owns under
``.perfbench/``; the queries only ever see that copy.

``--trace 0`` starts one measured process: it sets up a session, runs a
cold pass, which also checks each query's output, and then warm passes
until ``--seconds`` have passed, and at least two; timings are medians
over the warm passes. ``--trace 1`` runs one untraced process for
reference, then a traced one, each with one warm pass, and reports the
per-layer metrics and the tracing overhead, and writes the spans and
per-query ledger to ``.perfbench/trace/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is
0 when every output check passed, 1 when a query failed or a check did
not match, and 2 or 3 when the benchmark could not run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170
#: the package stages fixtures and streaming inputs as /tmp/cos_* entries
TMP_GLOB = "/tmp/cos_*"

END_TO_END = (
    ("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
    ("query_s_geomean", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"),
)


def _fail(code: int, msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def make_inputs(src: str, dst: str, seed: int) -> None:
    """Copy every table of ``src`` to ``dst`` with its rows permuted by
    ``seed``, keeping the row-group size and compression."""
    import numpy as np
    import pyarrow.parquet as pq

    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    rng = np.random.default_rng(seed)
    for path in sorted(glob.glob(os.path.join(src, "*.parquet"))):
        pf = pq.ParquetFile(path)
        meta = pf.metadata
        table = pf.read()
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(
            table, os.path.join(dst, os.path.basename(path)),
            row_group_size=max(1, meta.row_group(0).num_rows) if meta.num_row_groups else None,
            compression=meta.row_group(0).column(0).compression.lower()
            if meta.num_row_groups else "snappy",
        )


# --- /tmp state ----------------------------------------------------------------

def _size(path: str) -> int:
    if os.path.isfile(path) or os.path.islink(path):
        return os.lstat(path).st_size
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.remove(path)
        except OSError:
            pass


class TmpState:
    """Puts the package's /tmp/cos_* entries in the same state before each
    measured process: entries that appeared since the run started are
    removed, and so are the LMDB and SequenceFile fixtures of this input
    size, so every process builds them and set-up time includes that."""

    def __init__(self, n_docs: int):
        self.before = set(glob.glob(TMP_GLOB))
        self.fixtures = [
            p for p in self.before
            if os.path.basename(p).startswith(("cos_lmdb_fixture_", "cos_seqfile_fixture_"))
            and p.endswith(f"_{n_docs}")
        ]

    def new_mb(self) -> float:
        return sum(_size(p) for p in set(glob.glob(TMP_GLOB)) - self.before) / 2**20

    def reset(self) -> None:
        for p in set(glob.glob(TMP_GLOB)) - self.before:
            _remove(p)
        for p in self.fixtures:
            _remove(p)


# --- child processes -------------------------------------------------------------

def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        if fields[0] != "Z" and int(fields[2]) == pgid:
            pids.append(int(d))
    return pids


def _stop_group(pgid: int) -> None:
    """Stop what is left of a worker's process group and wait for it."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while _group_pids(pgid) and time.time() < end:
            time.sleep(0.1)


def run_worker(args, role: str, env: dict, deadline: float, extra=()) -> dict:
    out = os.path.join(WORK, "results", f"{args.workload}-{role}.json")
    log = os.path.join(WORK, "logs", f"{args.workload}-{role}.log")
    cmd = [
        sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
        "--sf-dir", os.path.join(WORK, "data"), "--work", WORK, "--out", out,
        "--seconds", str(args.seconds), *extra,
    ]
    if os.path.exists(out):
        os.remove(out)
    with open(log, "w") as fh:
        t0 = time.time()
        proc = subprocess.Popen(
            [*cmd, "--t0", repr(t0)], cwd=ROOT, env=env, stdout=fh,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {role} {why}; log {log}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def worker_env() -> dict:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    env.update({
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYTHONHASHSEED": "0",
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
    })
    return env


def _prepare_work() -> None:
    for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    for sub in ("spark-local", "tmp", "results", "logs", "trace"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)


def _cleanup_work() -> None:
    for sub in ("spark-local", "tmp", "warehouse", "eventlog", "data"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)


# --- reporting ------------------------------------------------------------------

def report(metrics: dict, units: dict, correct: bool, attempted: int, failed: int) -> str:
    from perfbench.spans import valid_metric_name

    bad = [k for k in metrics if not valid_metric_name(k)]
    if bad:
        raise ValueError(f"invalid metric names {bad}")
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })


def main(argv=None) -> int:
    from perfbench import spans as S
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", action="store_true",
                    help="check each row against its oracle and store its output hash")
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        return _fail(2, f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    needed = ("bench.py", "__spark_entry__.py", "caffeonspark_spark/engine.py",
              "tests/oracle_check.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        return _fail(2, f"not a checkout of the engine (missing {', '.join(missing)})")
    # recording runs every oracle query, which takes minutes at this scale
    deadline = time.time() + DEADLINE_S * (10 if args.record_hashes else 1)

    from caffeonspark_spark.catalog import table_nrows
    from caffeonspark_spark.engine import DEFAULT_SF_DIR

    if not os.path.isfile(os.path.join(DEFAULT_SF_DIR, "lineitem.parquet")):
        return _fail(2, f"no source tables in {DEFAULT_SF_DIR} (set SPARK_GRAFT_SF_DIR)")
    _prepare_work()
    make_inputs(DEFAULT_SF_DIR, os.path.join(WORK, "data"), args.seed)
    tmp = TmpState(table_nrows(DEFAULT_SF_DIR, "documents"))
    env = worker_env()
    record = ("--record-hashes",) if args.record_hashes else ()

    try:
        if args.trace:
            tmp.reset()
            one = ("--min-warm-passes", "1", "--seconds", "0")
            plain = run_worker(args, "reference", env, deadline, (*one, "--check", *record))
            tmp.reset()
            res = run_worker(args, "traced", env, deadline, (*one, "--trace", "1"))
            tmp_mb = tmp.new_mb()
            procs = [plain, res]
        else:
            tmp.reset()
            procs = [run_worker(args, "measured", env, deadline,
                                ("--check", *record))]
    except RuntimeError as e:
        return _fail(3, str(e))
    finally:
        tmp.reset()
        _cleanup_work()

    attempted = sum(p["attempted"] for p in procs)
    failed = sum(p["failed"] for p in procs)
    for p in procs:
        for err in p["errors"]:
            print(f"FAILED {err}", file=sys.stderr)
    correct = failed == 0
    print(f"workload {args.workload} seed {args.seed}: {attempted} queries attempted, "
          f"{failed} failed (fail_frac {failed / attempted:.4f})")
    if args.trace:
        layers = dict(res["layers"])
        layers["sources.tmp_mb"] = tmp_mb
        layers["trace.pass_s"] = res["pass_s"]
        layers["trace.overhead_s"] = res["pass_s"] - plain["pass_s"]
        trace_out = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}")
        for suffix in (".json", ".spans.jsonl"):
            shutil.move(os.path.join(WORK, "results", f"{args.workload}-traced{suffix}"),
                        trace_out + suffix)
        if sorted(layers) != sorted(S.layer_metric_names()):
            return _fail(3, f"traced run reported {sorted(set(layers) ^ set(S.layer_metric_names()))}")
        units = {k: S.layer_unit(k) for k in layers}
        for k in sorted(layers):
            print(f"{k} {layers[k]:.6g} {units[k]}")
        print(f"spans and ledger: {trace_out}.spans.jsonl, {trace_out}.json")
        print(report(layers, units, correct, attempted, failed))
    else:
        res = procs[0]
        metrics = {k: res[k] for k, _ in END_TO_END}
        units = dict(END_TO_END)
        for k, u in END_TO_END:
            print(f"{k} {metrics[k]:.6g} {u}")
        print(f"pass_s: median of {res['warm_passes']} warm passes, "
              f"max {res['pass_max_s']:.4f} s")
        print(report(metrics, units, correct, attempted, failed))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    # turn SIGTERM into SystemExit so the worker's process group
    # is stopped and /tmp is restored on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
