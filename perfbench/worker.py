"""One measured process: set up a session, run a cold pass and warm passes
of one workload in a closed loop, check outputs, and write a JSON result.

Started by ``perfbench/run.py`` in a fresh interpreter, from the root of
the checkout, as ``python -m perfbench.worker``. Each query is built (the
query-function call) and then driven to completion with the noop sink
before the next one starts. Set-up time counts from ``--t0``, the moment
the parent started this process. With ``--check`` each query's output is
checked during the cold pass, after the query's timed region.

With ``--trace 1`` every build and final phase runs under its own Spark
job group, the Spark event log is on, and a streaming query listener
records micro-batches; the spans are joined after the session stops
(see ``perfbench/spans.py``).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import statistics
import sys
import time
from datetime import datetime

from perfbench import spans as S
from perfbench.workloads import WORKLOADS

CPUS = 4
HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_hashes.json")


# --- /proc readings -----------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, including the
    children they have reaped (driver, JVM and Python workers)."""
    total = 0
    for pid in _tree(root):
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# --- output checks --------------------------------------------------------------

def result_hash(df, columns=None) -> str:
    """Order-insensitive hash of a result (or of ``columns`` of it): the
    sorted column names plus the sorted canonical rows, with columns in
    name order. Rows are fetched as Arrow batches."""
    from tests.oracle_check import _canon

    if columns:
        df = df.select(*columns)
    table = df.toArrow()
    cols = sorted(table.column_names)
    values = [table.column(c).to_pylist() for c in cols]
    rows = sorted(repr(tuple(_canon(v) for v in r)) for r in zip(*values))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class Checker:
    """Checks each row's output against the order-insensitive hash in
    ``expected_hashes.json``.

    Hashes are recorded with ``--record-hashes``: a row whose function has
    an oracle in ``__spark_entry__.oracle_sql()`` is first compared with
    its DuckDB result by ``tests/oracle_check.py``'s exact comparison, and
    its hash is stored only if they agree. Equal hashes mean equal sorted
    canonical rows, so a timed run repeats the exact oracle comparison
    without paying for the oracle query, which at this scale takes longer
    than the workload itself."""

    def __init__(self, sf_dir: str, record: bool, tmp: str):
        self.sf_dir = sf_dir
        self.record = record
        with open(HASHES) as fh:
            self.expected = json.load(fh)
        if record:
            import __spark_entry__ as E
            import duckdb
            import tests.oracle_check as oc

            oracles = E.oracle_sql()
            self.oracle_of = {
                fn: oracles[name] for name, fn in E._base_queries().items()
                if name in oracles
            }

            class BoundedDuckDB:
                """Keeps the oracle queries within a bounded memory budget."""

                @staticmethod
                def connect():
                    return duckdb.connect(config={
                        "memory_limit": "2GB", "threads": "4", "temp_directory": tmp,
                    })

            oc.duckdb = BoundedDuckDB

    def check(self, row: str, fn, df) -> tuple[bool, str]:
        want = self.expected.get(row)
        got = result_hash(df, want and want.get("columns"))
        if self.record:
            sql = self.oracle_of.get(fn)
            if sql is not None:
                from tests.oracle_check import compare

                ok, msg = compare(df, sql, self.sf_dir)
                if not ok:
                    return False, f"oracle: {msg}"
            self.expected[row] = {**(want or {}), "hash": got, "oracle": sql is not None}
            return True, "recorded"
        if want is None:
            return False, "no recorded hash (run with --record-hashes)"
        if got != want["hash"]:
            return False, f"hash {got[:12]} != recorded {want['hash'][:12]}"
        return True, "hash ok"

    def save(self) -> None:
        if self.record:
            with open(HASHES, "w") as fh:
                json.dump(dict(sorted(self.expected.items())), fh, indent=1)
                fh.write("\n")


# --- streaming listener -----------------------------------------------------------

def _listener(batches: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Batches(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            ops = p.get("stateOperators") or []
            ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            batches.append(S.Batch(
                start=ts.timestamp(),
                trigger_ms=float((p.get("durationMs") or {}).get("triggerExecution", 0)),
                state_rows=sum(o.get("numRowsTotal", 0) for o in ops),
                state_update_ms=float(sum(o.get("allUpdatesTimeMs", 0) for o in ops)),
                state_commit_ms=float(sum(o.get("commitTimeMs", 0) for o in ops)),
                watermark_dropped=sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
                state_partitions=sum(o.get("numStateStoreInstances", 0) for o in ops),
                run_id=p.get("runId", ""),
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Batches()


# --- the measured process -----------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--min-warm-passes", type=int, default=2,
                    help="warm passes run until --seconds have passed, and at least this many")
    ap.add_argument("--record-hashes", action="store_true")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    tracing = bool(args.trace)

    import bench
    from caffeonspark_spark.catalog import table_nrows
    from caffeonspark_spark.engine import Config, get_spark
    from caffeonspark_spark.operators.dedup import unpersist_cached

    conf = {"spark.sql.warehouse.dir": os.path.join(args.work, "warehouse")}
    evlog = os.path.join(args.work, "eventlog")
    if tracing:
        os.makedirs(evlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # a fixed heap and young generation: with G1's adaptive sizing the
    # JVM's peak resident memory depends on when it chooses to grow the
    # heap, and varied by a quarter across otherwise identical runs
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf["spark.driver.extraJavaOptions"] = (
        f"-Xms{heap} -Xmn1g -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )

    a = time.time()
    spark = get_spark(Config(master=f"local[{CPUS}]", app_name=f"perfbench-{args.workload}",
                             extra_conf=conf))
    session_s = time.time() - a
    fixture_s = 0.0
    if wl.fixtures:
        from caffeonspark_spark.sources import lmdb, seqfile

        a = time.time()
        n = table_nrows(args.sf_dir, "documents")
        lmdb.ensure_fixture(n)
        seqfile.ensure_fixture(n)
        seqfile.ensure_fixture(n, codec="snappy")
        fixture_s = time.time() - a
    setup_s = time.time() - args.t0
    result = {"setup_s": setup_s, "session_s": session_s, "fixture_s": fixture_s}
    sc = spark.sparkContext
    jvm = spark._jvm
    me = os.getpid()
    jvm_pid = next((p for p in _tree(me) if _comm(p) == "java"), None)

    def gc_s() -> float:
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def cached() -> tuple[int, float]:
        infos = sc._jsc.sc().getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / S.MB

    batches: list[S.Batch] = []
    if tracing:
        spark.streams.addListener(_listener(batches))
    checker = Checker(args.sf_dir, args.record_hashes, os.environ["TMPDIR"])
    fns = {row: bench.BENCH_QUERIES[row] for row in wl.rows}
    modules = {row: S.module_of(fn.__module__, fn.__name__) for row, fn in fns.items()}

    span_list: list[S.Span] = []
    next_id = [0]

    def span(parent, name, start, end, **attrs) -> S.Span:
        s = S.Span(next_id[0], parent, name, start, end, attrs)
        next_id[0] += 1
        span_list.append(s)
        return s

    attempted = failed = 0
    errors: list[str] = []
    passes: list[dict] = []
    checks: dict[str, dict] = {}

    def run_pass(idx: int, check: bool) -> None:
        nonlocal attempted, failed
        ps = span(None, f"pass {idx}", time.time(), 0.0, kind="pass", cold=idx == 0)
        cpu0, gc0 = tree_cpu_s(me), gc_s()
        walls: dict[str, float] = {}
        cache_peak = (0, 0.0)
        for row, fn in fns.items():
            attempted += 1
            build_g, final_g = S.group_id(idx, row, "build"), S.group_id(idx, row, "final")
            q = span(ps.id, row, time.time(), 0.0, kind="query", module=modules[row], **{"pass": idx})
            try:
                if tracing:
                    sc.setJobGroup(build_g, row)
                t0 = time.time()
                df = fn(spark, args.sf_dir)
                t1 = t1f = time.time()
                if tracing:
                    sc.setJobGroup(final_g, row)
                    t1f = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
            except Exception as e:  # a failing query is counted, not fatal
                failed += 1
                errors.append(f"pass {idx} {row}: {type(e).__name__}: {str(e)[:300]}")
                span_list.remove(q)
                unpersist_cached()
                spark.catalog.clearCache()
                continue
            if tracing:
                sc.setJobGroup("perfbench|idle", "between queries")
                span(q.id, "build", t0, t1, kind="phase", group=build_g)
                span(q.id, "final", t1f, t2, kind="phase", group=final_g)
                n, mb = cached()
                cache_peak = (max(cache_peak[0], n), max(cache_peak[1], mb))
            q.start, q.end = t0, t2
            walls[row] = t2 - t0
            if check:
                c0 = time.time()
                try:
                    ok, msg = checker.check(row, fn, df)
                except Exception as e:  # a check that raises is a failed check
                    ok, msg = False, f"{type(e).__name__}: {str(e)[:300]}"
                checks[row] = {"ok": ok, "msg": msg, "s": time.time() - c0}
                if not ok:
                    failed += 1
                    errors.append(f"check {row}: {msg}")
            unpersist_cached()
            spark.catalog.clearCache()
        ps.end = time.time()
        passes.append({
            "idx": idx, "wall_s": sum(walls.values()), "span_s": ps.duration,
            "cpu_s": tree_cpu_s(me) - cpu0, "gc_s": gc_s() - gc0, "queries": walls,
            "cached_relations": cache_peak[0], "cached_mb": cache_peak[1],
        })
        # released shuffle and broadcast state is cleaned only when the
        # JVM collects; collect between passes, outside the timed region
        jvm.System.gc()

    # the output check runs inside the cold pass, outside each query's
    # timed region, so the warm passes stay free of it
    run_pass(0, check=args.check)
    warm_start = time.time()
    while len(passes) <= args.min_warm_passes or time.time() - warm_start < args.seconds:
        run_pass(len(passes), check=False)
    checker.save()

    warm = passes[1:]
    per_query = {
        row: statistics.median(p["queries"][row] for p in warm if row in p["queries"])
        for row in fns if any(row in p["queries"] for p in warm)
    }
    result.update({
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "checks": checks,
        "passes": passes,
        "cold_pass_s": passes[0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in warm),
        "pass_max_s": max(p["wall_s"] for p in warm),
        "warm_passes": len(warm),
        "query_s": per_query,
        "query_s_geomean": math.exp(statistics.fmean(math.log(v) for v in per_query.values()))
        if per_query else 0.0,
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "driver_rss_mb": hwm_mb(me),
        "jvm_rss_mb": hwm_mb(jvm_pid) if jvm_pid else 0.0,
    })

    result["peak_rss_mb"] = result["driver_rss_mb"] + result["jvm_rss_mb"]
    if tracing:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
    spark.stop()
    if tracing:
        result["layers"], result["ledger"] = _trace_metrics(
            evlog, span_list, batches, next_id[0], warm, result, args, table_nrows
        )
        _write_spans(args, span_list)
    _write(args.out, result)
    return 0


def _trace_metrics(evlog, span_list, batches, next_id, warm, result, args, table_nrows):
    """Per-layer metrics of the warm passes from the span tree."""
    lines = []
    for path in sorted(glob.glob(os.path.join(evlog, "*"))):
        with open(path) as fh:
            lines.extend(fh)
    jobs = S.parse_event_log(lines)
    phases = [s for s in span_list if s.attrs.get("kind") == "phase"]
    span_list.extend(S.build_tree(phases, jobs, batches, next_id))
    records = S.query_records(span_list)
    warm_idx = [p["idx"] for p in warm]
    layers = S.module_metrics(records, warm_idx)
    by_pass = {
        p["idx"]: sum(r["task_s"] for r in records if r["pass"] == p["idx"]) for p in warm
    }
    layers.update({
        "engine.session_s": result["session_s"],
        "engine.jvm_gc_s": statistics.median(p["gc_s"] for p in warm),
        "engine.busy_frac": statistics.median(
            by_pass[p["idx"]] / (p["span_s"] * CPUS) for p in warm
        ),
        "engine.cached_relations": max(p["cached_relations"] for p in warm),
        "engine.cached_mb": max(p["cached_mb"] for p in warm),
        "sources.fixture_s": result["fixture_s"],
    })
    train = [r["wall_s"] for r in records if r["row"] == "q_train_epoch" and r["pass"] in warm_idx]
    layers["ml.train_samples_per_s"] = (
        table_nrows(args.sf_dir, "embeddings") / statistics.median(train) if train else 0.0
    )
    return layers, records


def _write_spans(args, span_list) -> None:
    with open(os.path.splitext(args.out)[0] + ".spans.jsonl", "w") as fh:
        for s in sorted(span_list, key=lambda s: s.id):
            fh.write(s.to_json() + "\n")


def _write(path: str, obj: dict) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
