"""One benchmark run, in a process whose environment ``run.py`` has fixed.

Usage (``run.py`` builds this command line):
    python3 worker.py <repo root> <run dir> <workload> <seed> <seconds> <trace> <size>

Phases:

1. set-up, ``Sizes.setup_rounds`` rounds on one fresh warehouse: each
   round constructs an ``Engine`` and writes its part of the preloaded
   history through ``write_lines``. The first round also starts the
   process and the SparkSession. ``setup_s`` is the median round.
2. warm-up: the workload's untimed warm-up ops on the last round's Engine.
3. state reads (``iot_ingest`` only): reads timed on the set-up's data
   state, the source of that workload's query metrics.
4. timed phase: a fixed number of whole op cycles, closed loop, one
   client: as many as take ``seconds`` at the reference host speed
   (``Workload.cycles``), so that parent and change do the same work.
5. untimed: the end-of-run check reads, the answer check of every checked
   op against the DuckDB reference, the host probes and the storage
   listing.

Every timed latency (set-up rounds, state reads, timed ops) is scaled to
a reference host speed by ``HostRef``. The last stdout line is the result
JSON; the line before it holds the host facts of the run, wall latencies
included.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import Fleet  # noqa: E402
from reference import Mismatch, Reference, compare  # noqa: E402
from workloads import SIZES, WORKLOADS, Write  # noqa: E402


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the closest ranks."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Client:
    """Runs ops against one Engine and keeps what the checker needs: the
    acknowledged writes and the checked query answers, in op order."""

    def __init__(self, tracer=None):
        self.eng = None
        self.tracer = tracer
        self.events: list[tuple] = []  # ("w", records) | ("q", query, arrow table)
        self.lp_bytes = 0
        self.rows = 0
        self.failed: list[str] = []

    def run(self, op, check: bool = False, traced: bool = False) -> float:
        """Run one op and return its latency. With ``check`` the op counts
        as failed if it raises or, once ``check_answers`` has run, if its
        answer is wrong; a write always counts as failed if it raises or
        its acknowledged row counts differ from the lines sent."""
        import pyarrow as pa

        is_write = isinstance(op, Write)
        if traced:
            self.tracer.begin_op("write" if is_write else "query",
                                 "write" if is_write else op.shape)
        t0 = time.perf_counter()
        try:
            if is_write:
                out = self.eng.write_lines(op.request.body)
            elif op.stream:
                out = b"".join(self.eng.sql_arrow_stream(op.sql))
            else:
                out = self.eng.sql_arrow(op.sql)
        except Exception as exc:  # a failed op is counted, the run goes on
            out = exc
        dt = time.perf_counter() - t0
        failed = isinstance(out, Exception)
        if traced:
            facts = {} if failed else (
                {"lines": len(op.request.records)} if is_write else {"bytes": len(out)})
            self.tracer.end_op(seconds=dt, timed=check, **facts)
        if failed:
            if check or is_write:
                self.failed.append(f"{type(op).__name__}: {out!r}"[:300])
        elif is_write:
            want = {}
            for r in op.request.records:
                want[r.measurement] = want.get(r.measurement, 0) + 1
            if out != want:
                self.failed.append(f"write acknowledged {out}, sent {want}")
            self.events.append(("w", op.request.records))
            self.lp_bytes += len(op.request.body.encode())
            self.rows += sum(out.values())
        elif check:
            self.events.append(("q", op, pa.ipc.open_stream(out).read_all()))
        return dt

    def check_answers(self, fleet) -> None:
        """Replay the writes into DuckDB and check every kept answer as of
        its write state."""
        ref = Reference(fleet)
        try:
            for ev in self.events:
                if ev[0] == "w":
                    ref.apply(ev[1])
                    continue
                _, q, table = ev
                try:
                    compare(table, ref.rows(q.ref_sql))
                except Mismatch as exc:
                    self.failed.append(f"{q.shape}: {exc}"[:300])
        finally:
            ref.close()


class HostRef:
    """Host-speed normalization. The reference op is a fixed plain-PySpark
    job (a 2,000-row Arrow table written as parquet, read back and fetched
    as Arrow) that calls nothing of ``cnosdb_spark``; its data is the same
    in every run, so its latency moves with the host, not the program.

    Timed ops are kept in segments of about ``EVERY_S`` seconds; one
    reference op runs right after each segment, and each op's latency in
    the segment is scaled by ``REF_S`` / that reference latency: seconds at
    the speed of the host the bounds were set on. Each op is thus scaled by
    the host speed of its own few seconds (see README.md, "Host-speed
    normalization")."""

    REF_S = 0.5  # about the reference's latency on that 4-core host
    EVERY_S = 2.5

    def __init__(self, spark, run_dir: str):
        import pyarrow as pa

        n = 2000
        self.spark = spark
        self.path = os.path.join(run_dir, "hostref")
        self.table = pa.table({
            "k": [f"k{i % 97}" for i in range(n)],
            "t": list(range(n)),
            "v": [(i * 7919 % 10007) / 10007 for i in range(n)],
        })
        self.samples: list[float] = []  # reference latencies
        self.scaled: dict[str, list[float]] = {}  # kind -> scaled latencies
        self._segment: list[tuple[str, float]] = []
        self._seg_s = 0.0

    def run(self) -> float:
        t0 = time.perf_counter()
        self.spark.createDataFrame(self.table).write.mode("overwrite") \
            .option("compression", "snappy").parquet(self.path)
        out = self.spark.read.parquet(self.path).toArrow()
        dt = time.perf_counter() - t0
        if out.num_rows != self.table.num_rows:
            raise RuntimeError(f"host reference read {out.num_rows} rows")
        return dt

    def add(self, **latencies: float) -> None:
        """Add latencies by kind, e.g. ``add(query=0.4)``; close the segment
        once it holds ``EVERY_S`` seconds."""
        for kind, dt in latencies.items():
            self._segment.append((kind, dt))
            self._seg_s += dt
        if self._seg_s >= self.EVERY_S:
            self.flush()

    def flush(self) -> None:
        """Close the open segment: one reference op, then scale the
        segment's latencies by it."""
        if not self._segment:
            return
        self.samples.append(self.run())
        k = self.REF_S / self.samples[-1]
        for kind, dt in self._segment:
            self.scaled.setdefault(kind, []).append(dt * k)
        self._segment, self._seg_s = [], 0.0


def storage_facts(warehouse: str, true_series: int) -> dict:
    """On-disk bytes of the warehouse (table dirs, series index included),
    its data parquet files, and series-index rows per true series."""
    import pyarrow.parquet as pq

    total = files = index_rows = 0
    for root, _dirs, names in os.walk(warehouse):
        in_index = os.sep + "_series" in root
        for n in names:
            p = os.path.join(root, n)
            total += os.path.getsize(p)
            if n.endswith(".parquet"):
                if in_index:
                    index_rows += pq.read_metadata(p).num_rows
                else:
                    files += 1
    return {"bytes": total, "parquet_files": files,
            "series_rows_per_series": index_rows / max(1, true_series)}


def jvm_hwm_mb(spark) -> float:
    """Peak resident memory of the Spark JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main(argv: list[str]) -> int:
    root, run_dir, workload, seed, seconds, trace, size = argv
    seed, seconds, trace = int(seed), float(seconds), trace == "1"
    sys.path.insert(0, root)

    from cnosdb_spark.calibration import run_calibration
    from cnosdb_spark.engine import Engine
    from cnosdb_spark.session import get_spark

    sizes = SIZES[size]
    spark = get_spark(
        app_name="perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}"},
    )
    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()

    # ----------------------------------------------------------- set-up
    warehouse = os.path.join(run_dir, "warehouse")
    fleet = Fleet(seed, sizes.trucks)
    wl = WORKLOADS[workload](fleet, sizes, seed)
    client = Client(tracer)
    ref = HostRef(spark, run_dir)
    rounds, setup_rows = [], 0
    for k in range(sizes.setup_rounds):
        t0 = T_PROCESS if k == 0 else time.perf_counter()
        client.eng = Engine(spark, warehouse)
        req = wl.setup_request()
        w = client.run(Write(req))
        rounds.append(time.perf_counter() - t0)
        if k == 0:
            first_write = w
            ref.run()  # the reference's own cold run, not a sample
            ref.add(round=rounds[-1])
        else:
            setup_rows += len(req.records)
            ref.add(round=rounds[-1], setup_write=w)
        ref.flush()  # one segment per round
    for op in wl.warmup():
        client.run(op)
    setup_total = time.perf_counter() - T_PROCESS
    reads = []
    for q in wl.state_reads():
        # one segment per read: the reads are few and all in one short
        # stretch, where sharing one reference op left its own noise in
        # every one of them
        reads.append(client.run(q, check=True))
        ref.add(read=reads[-1])
        ref.flush()

    # ------------------------------------------------------------ timed
    writes, queries = [], []  # (latency, traced)
    rows0 = client.rows
    for c in range(wl.cycles(seconds)):
        for i, op in enumerate(wl.cycle()):
            # traced ops alternate, and each cycle position alternates
            # between traced and untraced from one cycle to the next
            traced = trace and (i + c) % 2 == 0
            dt = client.run(op, check=True, traced=traced)
            if isinstance(op, Write):
                writes.append((dt, traced))
                ref.add(write=dt)
            else:
                queries.append((dt, traced))
                ref.add(query=dt)
    ref.flush()
    timed_rows = client.rows - rows0
    n_ops = len(writes) + len(queries)

    # ----------------------------------------------------------- untimed
    checks = [client.run(q, check=True) for q in wl.end_check()]
    client.check_answers(fleet)
    calib = run_calibration(spark, tries=1)
    hwm = jvm_hwm_mb(spark)
    true_series = len({(r.measurement, r.name)
                       for ev in client.events if ev[0] == "w" for r in ev[1]})
    store = storage_facts(warehouse, true_series)
    print(json.dumps({"host": {
        "nproc": os.cpu_count(),
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "calib_s": calib,
        "ref_s": [round(dt, 3) for dt in ref.samples],
        "jvm_hwm_mb": round(hwm, 1),
        "setup_rounds_s": [round(r, 3) for r in rounds],
        "setup_total_s": round(setup_total, 3),
        "run_s": round(time.perf_counter() - T_PROCESS, 3),
        "first_write_s": round(first_write, 3),
        "timed_writes": len(writes),
        "timed_queries": len(queries),
        "failures": client.failed[:5],
        "write_latencies_s": [round(dt, 3) for dt, _ in writes],
        "query_latencies_s": [round(dt, 3) for dt, _ in queries],
        "state_read_latencies_s": [round(dt, 3) for dt in reads],
    }}), flush=True)

    if trace:
        metrics = layer_metrics(tracer, writes, queries, store, calib, hwm)
        metrics["host.ref_s"] = (statistics.median(ref.samples), "s")
        metrics["setup.total_s"] = (setup_total, "s")
        metrics["setup.first_write_s"] = (first_write, "s")
        os.makedirs(os.path.join(root, ".perfbench", "traces"), exist_ok=True)
        tracer.dump(os.path.join(root, ".perfbench", "traces",
                                 f"{workload}-seed{seed}.jsonl"))
    else:
        sc = ref.scaled
        timed_s = sum(sc.get("write", ())) + sum(sc.get("query", ()))
        # writes: the timed phase's, else the warm set-up rounds' requests;
        # queries: the timed phase's, else the state reads
        if writes:
            w_lat, w_rate = sc["write"], timed_rows / timed_s
        else:
            w_lat = sc["setup_write"]
            w_rate = setup_rows / sum(w_lat)
        q_lat = sc.get("query") or sc["read"]
        metrics = {
            "setup_s": (statistics.median(sc["round"]), "s"),
            "ingest_rows_per_s": (w_rate, "1/s"),
            "write_p50_s": (statistics.median(w_lat), "s"),
            "query_p50_s": (statistics.median(q_lat), "s"),
            "query_p90_s": (p90(q_lat), "s"),
            "ops_per_s": (n_ops / timed_s, "1/s"),
            "stored_bytes_per_input_byte": (store["bytes"] / client.lp_bytes, "ratio"),
        }
    failed = len(client.failed)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": n_ops + len(reads) + len(checks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def layer_metrics(tracer, writes, queries, store, calib, hwm) -> dict:
    """Per-layer figures of the traced timed ops: mean self time per op of
    each layer, Spark counts per op, and the tracing overhead."""
    selfs, counts = tracer.self_times(), tracer.span_counts()
    timed = [op for op in tracer.ops if op["timed"]]
    w_ops = [op for op in timed if op["kind"] == "write"]
    q_ops = [op for op in timed if op["kind"] == "query"]

    def mean(ops, f):
        return sum(f(op) for op in ops) / len(ops) if ops else 0.0

    def self_s(ops, name):
        return mean(ops, lambda op: selfs[op["id"]].get(name, 0.0))

    # overhead: p50 of traced over untraced ops, of the kind the timed
    # phase is made of (queries where there are any, else writes)
    lat = queries or writes
    on = [dt for dt, traced in lat if traced]
    off = [dt for dt, traced in lat if not traced]
    overhead = statistics.median(on) / statistics.median(off) if on and off else 1.0
    return {
        "sources.parse_s": (self_s(w_ops, "sources.parse"), "s"),
        "sources.lines_per_req": (mean(w_ops, lambda op: op.get("lines", 0)), "count"),
        "catalog.insert_s": (self_s(w_ops, "catalog.insert"), "s"),
        "catalog.insert_jobs": (mean(w_ops, lambda op: op["jobs"]), "count"),
        "catalog.insert_stages": (mean(w_ops, lambda op: op["stages"]), "count"),
        "catalog.insert_tasks": (mean(w_ops, lambda op: op["tasks"]), "count"),
        "catalog.parquet_files": (store["parquet_files"], "count"),
        "catalog.series_rows_per_series": (store["series_rows_per_series"], "ratio"),
        "engine.register_views_s": (self_s(q_ops, "engine.register_views"), "s"),
        "engine.views_rebuilt_per_query": (
            mean(q_ops, lambda op: counts[op["id"]].get("catalog.read", 0)), "count"),
        "engine.sql_self_s": (self_s(q_ops, "engine.sql"), "s"),
        "rewriter.rewrite_s": (self_s(q_ops, "rewriter.rewrite"), "s"),
        "spark.execute_s": (self_s(q_ops, "spark.execute"), "s"),
        "spark.jobs_per_query": (mean(q_ops, lambda op: op["jobs"]), "count"),
        "spark.stages_per_query": (mean(q_ops, lambda op: op["stages"]), "count"),
        "spark.tasks_per_query": (mean(q_ops, lambda op: op["tasks"]), "count"),
        "spark.failed_tasks": (sum(op["failed_tasks"] for op in tracer.ops), "count"),
        "transport.serialize_s": (self_s(q_ops, "transport"), "s"),
        "transport.bytes_per_query": (mean(q_ops, lambda op: op.get("bytes", 0)), "bytes"),
        "host.calib_s": (calib, "s"),
        "host.jvm_hwm_mb": (hwm, "MB"),
        "trace.overhead_ratio": (overhead, "ratio"),
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
