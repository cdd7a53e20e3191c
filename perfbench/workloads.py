"""The benchmark's workloads, output checks and traced layer ledger.

Every call into the program goes through its public functions; the
benchmark times those calls from outside and changes nothing inside.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import statistics
import tempfile
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from corpus import (
    QUARANTINES,
    SINK_CLASSES,
    CorpusSpec,
    Expected,
    write_corpus,
)
from probe import Spans, last_execution_id, peak_rss_mb, sql_metric

# Generator parameters per workload (recorded in README.md).
ETL_BATCH_SPEC = CorpusSpec(lines=40_000, files=0)  # files = 2 per core
LAKE_SPEC = CorpusSpec(lines=4_000, files=0)  # files = 2 per core
LAKE_SEED = 0  # the lake's corpus is fixed, so one build serves every run
LAKE_WARMUP_HUNTS = 4


@dataclass
class Run:
    """State of one benchmark process."""

    work: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    lines: int = 0  # corpus size override (smoke tests); 0 = the workload's
    spans: Spans = field(default_factory=Spans)
    gen_s: float = 0.0
    setup_s: float = 0.0
    op_s: list = field(default_factory=list)
    op_events: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def record(self, problems: list[str]) -> None:
        """Count one operation and whether its output check failed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:5])


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------- #
# Session
# --------------------------------------------------------------------- #
def start_session(run: Run):
    """``session.get_spark`` on local[run.cores], with every scratch path
    of Spark, PySpark and the program inside the run's work directory."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.session import (
        get_spark,
    )

    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts: temp files here, and no hsperfdata
    # file, which the JVM would otherwise write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{run.cores}]",
        shuffle_partitions=run.cores,
        extra_conf={"spark.local.dir": tmp, "spark.sql.warehouse.dir": run.path("warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    run.spans.spark = spark if run.trace else None
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# --------------------------------------------------------------------- #
# Output checks
# --------------------------------------------------------------------- #
def _compare(what: str, got: dict, want: dict) -> list[str]:
    keys = set(got) | set(want)
    return [
        f"{what}[{k}]: got {got.get(k, 0)} want {want.get(k, 0)}"
        for k in sorted(keys, key=str)
        if got.get(k, 0) != want.get(k, 0)
    ]


def conservation(got: dict, exp: Expected) -> list[str]:
    """lines_in == Σ sinks + Σ quarantines + blank, on the counts read
    back from the lake (blank lines leave no row, so they come from the
    model)."""
    total = sum(got.values()) + exp.blank
    if total != exp.lines_in:
        return [f"conservation: {total} rows + blank != {exp.lines_in} lines in"]
    return []


def check_lake(spark, base: str, exp: Expected, read) -> list[str]:
    """Rows per sink x eventDay and per quarantine of a written lake, read
    back with ``read(path)`` in one job and compared with the model."""
    from pyspark.sql import functions as F

    want = exp.rows()
    parts = [
        read(os.path.join(base, key)).select(
            F.lit(key).alias("k"), F.col("eventDay").cast("string").alias("d")
        )
        for key in SINK_CLASSES
        if want[key]
    ] + [
        read(os.path.join(base, "_quarantine", q)).select(
            F.lit(q).alias("k"), F.lit(None).cast("string").alias("d")
        )
        for q in QUARANTINES
        if want[q]
    ]
    rows = functools.reduce(DataFrame.unionByName, parts).groupBy("k", "d").count().collect()
    got_days = {(r["k"], r["d"]): r["count"] for r in rows if r["d"] is not None}
    got = Counter()
    for r in rows:
        got[r["k"]] += r["count"]
    return (
        _compare("rows", got, want)
        + _compare("sink_day", got_days, exp.sink_days)
        + conservation(got, exp)
    )


def check_dir_lake(spark, base: str, exp: Expected) -> list[str]:
    """Check a ``run_batch`` output (partitioned directory tables)."""
    return check_lake(spark, base, exp, spark.read.parquet)


def check_snapshot_lake(spark, base: str, exp: Expected) -> list[str]:
    """Check the latest versions of a snapshot-committed lake."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        read_snapshot,
    )

    return check_lake(spark, base, exp, lambda path: read_snapshot(spark, path))


# --------------------------------------------------------------------- #
# Lake hunting queries (Athena-style, over the registered views)
# --------------------------------------------------------------------- #
def lake_queries(p: dict) -> dict[str, str]:
    return {
        "class_day": (
            "SELECT class_name, eventDay, count(*) AS n FROM ocsf_all "
            "GROUP BY class_name, eventDay"
        ),
        "device_lookup": (
            "SELECT class_name, count(*) AS n FROM ocsf_all "
            f"WHERE device.uid = '{p['cid']}' AND eventDay = '{p['day']}' "
            "GROUP BY class_name"
        ),
        "sha_match": (
            "SELECT count(*) AS n FROM process_activity "
            f"WHERE exists(process.file.hashes, h -> h.value = '{p['sha']}')"
        ),
        "top_dst": (
            "SELECT dst_endpoint.ip AS ip, count(*) AS n FROM network_activity "
            f"GROUP BY dst_endpoint.ip ORDER BY n DESC, ip LIMIT {p['top_n']}"
        ),
        "unmapped_key": (
            "SELECT count(*) AS n FROM process_activity "
            f"WHERE unmapped['{p['unmapped_key']}'] = '{p['unmapped_value']}'"
        ),
    }


def expected_answer(name: str, exp: Expected):
    p = exp.params
    if name == "class_day":
        return dict(exp.class_days)
    if name == "device_lookup":
        return {
            cls: n for (cid, day, cls), n in exp.device_day.items()
            if cid == p["cid"] and day == p["day"]
        }
    if name == "sha_match":
        return exp.sha_rows[p["sha"]]
    if name == "top_dst":
        ranked = sorted(exp.dst_ips.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[: p["top_n"]]
    return exp.unmapped_vals[p["unmapped_value"]]


def answer(name: str, rows) -> object:
    if name == "class_day":
        return {(r["class_name"], r["eventDay"]): r["n"] for r in rows}
    if name == "device_lookup":
        return {r["class_name"]: r["n"] for r in rows}
    if name == "top_dst":
        return [(r["ip"], r["n"]) for r in rows]
    return rows[0]["n"]


def query_events(name: str, exp: Expected) -> int:
    """Lake rows a query reads (its input size)."""
    if name in ("class_day", "device_lookup"):
        return sum(exp.sinks.values())
    if name == "top_dst":
        return exp.sinks["network_activity"]
    return exp.sinks["process_activity"]


def check_answer(name: str, rows, exp: Expected) -> list[str]:
    got = answer(name, rows)
    want = expected_answer(name, exp)
    return [] if got == want else [f"lake.{name}: got {got!r:.200} want {want!r:.200}"]


def time_lake_queries(run: Run, spark, exp: Expected) -> None:
    """One traced pass of the hunting queries: seconds per query, and the
    files and bytes the pass scanned."""
    first = last_execution_id(spark)
    bytes_scanned = 0
    for name, sql in lake_queries(exp.params).items():
        with run.spans.span(f"lake.{name}") as rec:
            run.problems.extend(check_answer(name, spark.sql(sql).collect(), exp))
        run.layer[f"lake.{name}_s"] = rec["end"] - rec["start"]
        bytes_scanned += rec["input_bytes"]
    run.layer["lake.files_scanned"] = sql_metric(
        spark, (first, last_execution_id(spark)), "Scan parquet", "number of files read"
    )
    run.layer["lake.bytes_scanned"] = bytes_scanned


# --------------------------------------------------------------------- #
# Traced pieces shared by both workloads
# --------------------------------------------------------------------- #
class SnapshotWriteTimer:
    """Wraps ``sinks.snapshot.write_snapshot`` from outside while a traced
    stream runs: per-call seconds and committed versions."""

    def __init__(self):
        from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks import (
            snapshot,
        )

        self.module = snapshot
        self.original = snapshot.write_snapshot
        self.calls: list[tuple[float, object]] = []
        self.lock = threading.Lock()

    def __enter__(self):
        original = self.original

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            version = original(*args, **kwargs)
            with self.lock:
                self.calls.append((time.perf_counter() - t0, version))
            return version

        self.module.write_snapshot = timed
        return self

    def __exit__(self, *exc):
        self.module.write_snapshot = self.original
        return False


def stream_lake(run: Run, spark, in_dir: str, base: str):
    """Build a snapshot lake with ``run_stream(snapshot=True)`` over every
    file in ``in_dir`` (one catch-up micro-batch).  Traced, the snapshot
    commits are timed and stream.* / snapshot.* are read from the query's
    progress and the manifests."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        current_version,
        snapshot_files,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.streaming.pipeline import (
        run_stream,
    )

    timer = SnapshotWriteTimer()
    with run.spans.span("stream.build") as build:
        with timer if run.trace else contextlib.nullcontext():
            query = run_stream(
                spark, in_dir, base, run.path(f"checkpoint-{os.path.basename(base)}"),
                snapshot=True, max_files_per_trigger=len(os.listdir(in_dir)),
            )
            query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    if not run.trace:
        return build
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    last = progress[-1]["durationMs"]
    run.layer["stream.trigger_ms"] = last["triggerExecution"]
    run.layer["stream.add_batch_ms"] = last["addBatch"]
    run.layer["stream.wal_commit_ms"] = last["walCommit"]
    run.layer["stream.commit_offsets_ms"] = last["commitOffsets"]
    run.layer["stream.latest_offset_ms"] = last["latestOffset"]
    run.layer["stream.micro_batches"] = len(progress)
    run.layer["stream.jobs_per_batch"] = build["jobs"] / len(progress)
    run.layer["snapshot.write_s"] = statistics.median(d for d, _ in timer.calls)
    run.layer["snapshot.commits_per_batch"] = (
        sum(v is not None for _, v in timer.calls) / len(progress)
    )
    files = versions = 0
    for key in list(SINK_CLASSES) + [f"_quarantine/{q}" for q in QUARANTINES]:
        path = os.path.join(base, key)
        v = current_version(spark, path)
        if v is not None:
            files += len(snapshot_files(spark, path))
            versions += v + 1
    run.layer["snapshot.files_per_version"] = files / versions
    return build


def register_lake(run: Run, spark, base: str) -> None:
    """``register_snapshot_tables``: the ``ocsf_all`` and per-class views."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.snapshot import (
        register_snapshot_tables,
    )

    with run.spans.span("snapshot.register") as rec:
        register_snapshot_tables(spark, base)
    run.layer["snapshot.register_s"] = rec["end"] - rec["start"]


def _code_hash() -> str:
    """Fingerprint of the package and the corpus generator, so a cached
    lake is never reused by a different version of the code."""
    import hashlib

    import query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark as pkg

    files = [os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus.py")]
    for root, dirs, names in os.walk(os.path.dirname(pkg.__file__)):
        dirs.sort()
        files += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def cached_lake(run: Run, spark, in_dir: str, spec: CorpusSpec) -> str:
    """The lake_query lake: built by ``stream_lake`` on the first run in a
    checkout, published by one atomic rename, and reused by later runs
    (every run still checks it against the model)."""
    final = os.path.join(
        os.path.dirname(run.work), "cache", f"lake-{spec.lines}x{spec.files}-{_code_hash()}"
    )
    if not os.path.isdir(final):
        stage = f"{final}.build-{os.getpid()}"
        stream_lake(run, spark, in_dir, stage)
        try:
            os.rename(stage, final)
        except OSError:  # another run published the same lake first
            shutil.rmtree(stage, ignore_errors=True)
    return final


def etl_span_layers(run: Run, spark, rec: dict, exp: Expected) -> None:
    """batch.* of the span that ran the workload's ETL: its wall, jobs,
    and how many rows were read back from the cached parse per line."""
    run.layer["batch.wall_s"] = rec["end"] - rec["start"]
    run.layer["batch.jobs"] = rec["jobs"]
    cache_rows = sql_metric(spark, rec["executions"], "InMemoryTableScan", "number of output rows")
    run.layer["batch.scan_amplification"] = cache_rows / exp.lines_in


def sink_layout(run: Run, base: str) -> None:
    """Data files, bytes and data-holding directories of the 13 sinks."""
    files = size = 0
    dirs = set()
    for key in SINK_CLASSES:
        for root, _dirs, names in os.walk(os.path.join(base, key)):
            data = [n for n in names if n.endswith(".parquet")]
            if data:
                dirs.add(root)
            files += len(data)
            size += sum(os.path.getsize(os.path.join(root, n)) for n in data)
    run.layer["sinks.files_written"] = files
    run.layer["sinks.bytes_written"] = size
    run.layer["sinks.partitions_written"] = len(dirs)


def ledger_cuts(run: Run, spark, corpus: str) -> None:
    """Layer self times over one cached parse.

    The program's DataFrames are lazy, so each layer's output is
    materialised into the noop sink in pipeline order: read -> parse
    (cache fill) -> classify -> cast-check split -> 13 normalizers (run
    concurrently, as the sink writes are) -> ``write_ocsf_tables`` ->
    quarantine writes.  A layer's self time is the difference between
    consecutive cuts; what the cuts do not explain of the workload's ETL
    wall (``batch.wall_s``) is ``batch.between_layers_s``."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.ocsf.schemas import (
        TABLE_KEYS,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.operators.castcheck import (
        lossy_raw_casts,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.operators.normalize import (
        class_columns,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.operators.router import (
        classify,
        unmapped_events,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.pipeline import (
        normalized_tables_with_cast_quarantine,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sinks.parquet import (
        write_ocsf_tables,
    )
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.sources.fdr import (
        corrupt_lines,
        no_discriminator,
        read_fdr,
    )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    cuts = {}

    def cut(name, fn):
        with run.spans.span(f"cut.{name}") as rec:
            fn()
        cuts[name] = rec["end"] - rec["start"]

    out = run.path("ledger_cuts")
    cut("read", lambda: noop(spark.read.text(corpus)))
    parsed = read_fdr(spark, corpus).persist()
    try:
        cut("parse", parsed.count)
        classified = classify(parsed, spark)
        tables, failures = normalized_tables_with_cast_quarantine(classified)
        cut("classify", lambda: noop(classified))
        cut("castcheck", lambda: noop(failures))

        def normalize_all():
            def one(key):
                t0 = time.perf_counter()
                noop(tables[key])
                return key, time.perf_counter() - t0

            with ThreadPoolExecutor(max_workers=len(tables)) as pool:
                for key, dt in pool.map(one, tables):
                    run.layer[f"normalize.{key}_s"] = dt

        cut("normalize", normalize_all)
        cut("write", lambda: write_ocsf_tables(tables, out))

        def quarantine():
            q = os.path.join(out, "_quarantine")
            failures.write.parquet(os.path.join(q, "cast_failures"))
            corrupt_lines(parsed).write.parquet(os.path.join(q, "corrupt_lines"))
            no_discriminator(parsed).drop("raw").write.parquet(
                os.path.join(q, "no_discriminator")
            )
            unmapped_events(parsed, spark).write.parquet(os.path.join(q, "unmapped_events"))

        cut("quarantine", quarantine)
        run.layer["router.mapped_rows"] = classified.count()
        run.layer["castcheck.sites"] = sum(
            len(lossy_raw_casts(k, class_columns(k, classified))) for k in TABLE_KEYS
        )
    finally:
        parsed.unpersist()
    run.layer.update({
        "sources.read_s": cuts["read"],
        "sources.parse_s": cuts["parse"] - cuts["read"],
        "router.classify_s": cuts["classify"],
        "castcheck.split_s": cuts["castcheck"] - cuts["classify"],
        "normalize.phase_s": cuts["normalize"] - cuts["castcheck"],
        "sinks.write_s": cuts["write"] - cuts["normalize"],
        "sinks.quarantine_write_s": cuts["quarantine"],
    })
    explained = cuts["parse"] + cuts["write"] + cuts["quarantine"]
    run.layer["batch.between_layers_s"] = run.layer["batch.wall_s"] - explained


def model_counts(run: Run, exp: Expected) -> None:
    """Row counts per layer.  The output checks have matched every one of
    them against the lake, so the model's value is the measured one."""
    run.layer["sources.lines_in"] = exp.lines_in
    run.layer["sources.bytes_in"] = exp.bytes_in
    run.layer["sources.corrupt_rows"] = exp.quarantines["corrupt_lines"]
    run.layer["sources.no_discriminator_rows"] = exp.quarantines["no_discriminator"]
    run.layer["router.unmapped_rows"] = exp.quarantines["unmapped_events"]
    run.layer["castcheck.failure_rows"] = exp.quarantines["cast_failures"]
    for key in SINK_CLASSES:
        run.layer[f"normalize.{key}_rows"] = exp.sinks[key]


def engine_layers(run: Run, ops: list[dict]) -> None:
    """spark.* summed over the measured operations' spans."""
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "gc_s"):
        run.layer[f"spark.{k}"] = sum(r[k] for r in ops)
    wall = sum(r["end"] - r["start"] for r in ops)
    run.layer["spark.core_busy_ratio"] = sum(r["run_s"] for r in ops) / (wall * run.cores)


def _spec(run: Run, base: CorpusSpec) -> CorpusSpec:
    return CorpusSpec(**{**base.__dict__, "files": 2 * run.cores, "lines": run.lines or base.lines})


def _session(run: Run):
    with run.spans.span("session", counters=False) as rec:
        spark = start_session(run)
    run.layer["session.start_s"] = rec["end"] - rec["start"]
    return spark


# --------------------------------------------------------------------- #
# Workloads
# --------------------------------------------------------------------- #
def etl_batch(run: Run) -> None:
    """Closed loop, one client: one ``run_batch`` over the whole corpus at
    a time, the first in a fresh driver, as a replay job launched per
    drop of files runs it."""
    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.pipeline import (
        run_batch,
    )

    corpus = run.path("corpus")
    t0 = time.perf_counter()
    exp = write_corpus(corpus, run.seed, _spec(run, ETL_BATCH_SPEC))
    run.gen_s = time.perf_counter() - t0
    spark = _session(run)
    try:
        run.setup_s = process_age_s() - run.gen_s
        ops = []
        while sum(run.op_s) < run.seconds:
            out = run.path(f"batch{len(ops)}")
            with run.spans.span("op.run_batch") as op:
                run_batch(spark, corpus, out)
            ops.append(op)
            run.op_s.append(op["end"] - op["start"])
            run.op_events.append(exp.lines_in)
            run.record(check_dir_lake(spark, out, exp))
        if run.trace:
            engine_layers(run, ops)
            etl_span_layers(run, spark, ops[0], exp)
            sink_layout(run, run.path("batch0"))
            ledger_cuts(run, spark, corpus)
            stream_lake(run, spark, corpus, run.path("lake"))
            register_lake(run, spark, run.path("lake"))
            run.problems.extend(check_snapshot_lake(spark, run.path("lake"), exp))
            time_lake_queries(run, spark, exp)
            model_counts(run, exp)
            run.layer["driver.peak_rss_mb"] = peak_rss_mb()
    finally:
        stop_session(spark)


def lake_query(run: Run) -> None:
    """Closed loop, one client: one operation is a hunt, the five hunting
    queries in turn, over a snapshot lake written by
    ``run_stream(snapshot=True)``.  The lake holds a fixed corpus and is
    built once per checkout (a traced run builds its own, to measure the
    stream); the seed picks the hunted host, day, hash and map value."""
    in_dir = run.path("in")
    spec = _spec(run, LAKE_SPEC)
    t0 = time.perf_counter()
    exp = write_corpus(in_dir, LAKE_SEED, spec, stage_dir=run.path("stage"), query_seed=run.seed)
    run.gen_s = time.perf_counter() - t0
    spark = _session(run)
    try:
        if run.trace:
            base = run.path("lake")
            build = stream_lake(run, spark, in_dir, base)
        else:
            base = cached_lake(run, spark, in_dir, spec)
        register_lake(run, spark, base)
        queries = lake_queries(exp.params)

        def hunt():
            return {name: spark.sql(sql).collect() for name, sql in queries.items()}

        # query planning keeps getting faster for the first ~10 hunts of a
        # fresh driver (1.7 s -> 1.1 s); measure past the steep part
        for _ in range(LAKE_WARMUP_HUNTS):
            hunt()
        run.setup_s = process_age_s() - run.gen_s
        ops = []
        while sum(run.op_s) < run.seconds:
            with run.spans.span("op.hunt") as op:
                answers = hunt()
            ops.append(op)
            run.op_s.append(op["end"] - op["start"])
            run.op_events.append(sum(query_events(name, exp) for name in queries))
            run.record([p for name, rows in answers.items() for p in check_answer(name, rows, exp)])
        run.record(check_snapshot_lake(spark, base, exp))
        if run.trace:
            engine_layers(run, ops)
            etl_span_layers(run, spark, build, exp)
            sink_layout(run, base)
            time_lake_queries(run, spark, exp)
            ledger_cuts(run, spark, in_dir)
            model_counts(run, exp)
            run.layer["driver.peak_rss_mb"] = peak_rss_mb()
    finally:
        stop_session(spark)


WORKLOADS = {"etl_batch": etl_batch, "lake_query": lake_query}

# Per-layer metrics of a traced run and their units; module names are the
# layer names.  Both workloads measure every one.  README.md says which
# end-to-end metric each should move, on which workload.
_QUERIES = ("class_day", "device_lookup", "sha_match", "top_dst", "unmapped_key")
PER_LAYER = {
    "session.start_s": "s",
    "sources.lines_in": "count",
    "sources.bytes_in": "bytes",
    "sources.read_s": "s",
    "sources.parse_s": "s",
    "sources.corrupt_rows": "count",
    "sources.no_discriminator_rows": "count",
    "router.classify_s": "s",
    "router.mapped_rows": "count",
    "router.unmapped_rows": "count",
    "batch.scan_amplification": "ratio",
    "castcheck.split_s": "s",
    "castcheck.failure_rows": "count",
    "castcheck.sites": "count",
    "normalize.phase_s": "s",
    **{f"normalize.{k}_s": "s" for k in SINK_CLASSES},
    **{f"normalize.{k}_rows": "count" for k in SINK_CLASSES},
    "sinks.write_s": "s",
    "sinks.quarantine_write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.partitions_written": "count",
    "batch.wall_s": "s",
    "batch.jobs": "count",
    "batch.between_layers_s": "s",
    "snapshot.write_s": "s",
    "snapshot.commits_per_batch": "count",
    "snapshot.files_per_version": "count",
    "snapshot.register_s": "s",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.micro_batches": "count",
    "stream.jobs_per_batch": "count",
    **{f"lake.{q}_s": "s" for q in _QUERIES},
    "lake.files_scanned": "count",
    "lake.bytes_scanned": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.core_busy_ratio": "ratio",
    "driver.peak_rss_mb": "MB",
    "trace.op_latency_s": "s",
}
