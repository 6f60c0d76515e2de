"""The workloads. Each drives the library only through its public entry
points (``Pipeline``, ``TierTable``, ``compress_series`` /
``decompress_series``, ``textops``) on seeded inputs, times one
operation, then checks every output.

- ``incremental``: restores a fixed pre-built history (a finalized
  backfill plus ``HISTORY_BATCHES`` batches); the operation ingests one
  batch with ``Pipeline.run(finalize=False)`` and runs the three
  dashboard reads. Every stage of the pipeline runs, and the driver,
  manifests, checkpoints and the read path carry most of the time.
- ``dedup``: the operation is the textops chain on a document/embedding
  corpus with planted near-duplicates; pipeline and storage are
  bypassed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

import inputs
import sparkenv
import tracing
import verify

HISTORY_TURNS = 120_000
HISTORY_BATCHES = 1
HISTORY_SEED = 1
BATCH_TURNS = 15_000
N_DOCS = 10_000
N_VECS = 10_000
N_QUERIES = 100
N_READ_IDS = 50
AGG_STAGE = "agg_H_sum"
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def pipeline_config():
    from enhydris_autoprocess_spark.config import (
        AggregationConfig,
        PipelineConfig,
        RangeCheckConfig,
    )

    return PipelineConfig(
        range_check=RangeCheckConfig(0, 3000, 5, 2500),
        aggregations=(AggregationConfig("H", "sum", 10, "1min"),),
    )


def shim_targets():
    """The public calls a traced run wraps in spans."""
    from enhydris_autoprocess_spark.pipeline import Pipeline
    from enhydris_autoprocess_spark.storage import CheckpointStore, TierTable, gorilla

    return [
        (Pipeline, "run", "pipeline.run"),
        (Pipeline, "run_checked", "pipeline.checked"),
        (Pipeline, "run_agg_tier", "pipeline.agg"),
        (Pipeline, "run_rollups", "pipeline.rollups"),
        (TierTable, "append", "storage.tier_table.append"),
        # these two only list files and build a plan; their Spark work
        # runs under the span of the action that consumes the plan
        (TierTable, "read", "storage.tier_table.read.plan"),
        (CheckpointStore, "filter_new", "storage.checkpoint.filter_new.plan"),
        (CheckpointStore, "advance", "storage.checkpoint.advance"),
        (gorilla, "compress_series", "storage.gorilla.compress_series"),
        (gorilla, "decompress_series", "storage.gorilla.decompress_series"),
    ]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    """State of one benchmark run: timings, operation counts and the
    outputs kept for the checks after the timed section."""

    def __init__(
        self, spark, tracer, work: str, hist: dict, seed: int, nproc: int, end_timed,
    ):
        self.spark = spark
        self.jvm_pid = sparkenv.jvm_pid(spark)
        self.nproc = nproc
        self.end_timed = end_timed
        self.tracer = tracer
        self.work = work
        self.hist = hist
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.op_s: float | None = None
        self.op_cpu_s: float | None = None
        self.op_steal_s: float | None = None
        self.layers: dict[str, float] = {}
        self.op_span_id: int | None = None
        self.last_stages: list = []
        self.children: list[dict] = []
        self.skip_checks = False
        self.t0 = time.perf_counter()
        self.con = verify.connect(os.path.join(work, "tmp"))

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failed operation
        and is reported, the run goes on."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            print(f"perfbench: {what} failed", file=sys.stderr)
            traceback.print_exc()
            return None

    def check(self, what: str, fn, *args) -> None:
        if self.skip_checks:
            return
        errs = self.attempt(what, fn, *args)
        if errs:
            self.failed += 1
            for e in errs:
                print(f"perfbench: check {what}: {e}", file=sys.stderr)

    def note(self, what: str) -> None:
        """Progress line on stderr, with seconds since the run began."""
        print(f"perfbench: {time.perf_counter() - self.t0:7.1f}s {what}", file=sys.stderr)

    def time_op(self, what: str, fn, *args):
        """Run the timed operation ``fn(*args)``, recording its wall and
        CPU seconds (see ``tracing.cpu_seconds``) and the host's steal
        time meanwhile; returns its result, or None if it failed."""
        s0 = tracing.host_steal_seconds()
        c0, t0 = tracing.cpu_seconds(self.jvm_pid), time.perf_counter()
        out = self.attempt(what, fn, *args)
        if out is not None:
            self.op_s = time.perf_counter() - t0
            self.op_cpu_s = tracing.cpu_seconds(self.jvm_pid) - c0
            self.op_steal_s = tracing.host_steal_seconds() - s0
        return out

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# --- shared pipeline pieces -------------------------------------------


def run_pipeline(spark, root: str, inp: dict, finalize: bool) -> list:
    from enhydris_autoprocess_spark.pipeline import Pipeline

    df = spark.read.parquet(inp["path"])
    return Pipeline(spark, root, pipeline_config(), compress_tiers=True).run(
        df, finalize=finalize
    )


READS = (
    ("rollup_1H_recent", "rollup_1H"),
    ("rollup_1D_roles", "rollup_1D"),
    ("agg_gorilla_keys", AGG_STAGE),
)


def dashboard_reads(run: Run, root: str, batch: dict) -> list[dict]:
    """The three fixed dashboard reads after ingesting ``batch``, each
    collected to its last row: the last 7 days of 1H rollups of 50 of
    the batch's conversations, per-role totals over the whole 1D tier,
    and the agg tier of the same 50 keys decoded from its Gorilla
    table."""
    from pyspark.sql import functions as F

    from enhydris_autoprocess_spark.storage import TierTable, gorilla

    spark = run.spark
    ids = batch["conv_ids"][:N_READ_IDS]
    now_us = batch["max_ts_us"]
    min_us = now_us - 7 * inputs.DAY_US

    def recent():
        df = TierTable(f"{root}/rollup_1H").read(spark, min_ts_us=min_us)
        return df.where(
            F.col("conv_id").isin(ids) & (F.unix_micros("ts") > min_us)
        ).select(
            "conv_id", "role", F.unix_micros("ts"), "turn_count", "tool_calls",
            "text_len_sum", "text_len_min", "text_len_max",
        ).collect()

    def roles():
        df = TierTable(f"{root}/rollup_1D").read(spark)
        return df.groupBy("role").agg(
            F.sum("turn_count"), F.sum("tool_calls"), F.sum("text_len_sum")
        ).collect()

    def agg_keys():
        comp = TierTable(f"{root}/{AGG_STAGE}_gorilla").read(spark)
        return gorilla.decompress_series(comp.where(F.col("key").isin(ids))).select(
            "key", F.unix_micros("ts"), "value"
        ).collect()

    fns = {"rollup_1H_recent": recent, "rollup_1D_roles": roles, "agg_gorilla_keys": agg_keys}
    out = []
    for kind, _ in READS:
        with run.tracer.span(f"read.{kind}"):
            rows = fns[kind]()
        out.append(
            {"kind": kind, "min_us": min_us, "ids": ids, "rows": [tuple(r) for r in rows]}
        )
    return out


def layer_probes(run: Run, inp: dict, root: str) -> None:
    """Traced runs only: each layer's output materialized to a noop
    sink over a persisted input, so a layer's time is its own."""
    from enhydris_autoprocess_spark.operators import aggregate, regularize, run_checks
    from enhydris_autoprocess_spark.operators.gapfill import gap_fill_auto
    from enhydris_autoprocess_spark.operators.regularize import mode_for_method
    from enhydris_autoprocess_spark.rollup import rollup_tier, rollup_transcripts
    from enhydris_autoprocess_spark.schema import transcripts_to_series
    from enhydris_autoprocess_spark.storage import CheckpointStore, TierTable, gorilla
    from enhydris_autoprocess_spark.timeutil import MICROS, parse_step

    cfg = pipeline_config()
    step = parse_step(cfg.source_time_step)
    hot_span = 7 * 86400
    spark = run.spark

    def noop(name, df):
        with run.tracer.span(name):
            df.write.format("noop").mode("overwrite").save()

    def pinned(df):
        out = df.persist()
        out.count()
        return out

    src = pinned(spark.read.parquet(inp["path"]))
    ckpt = CheckpointStore(os.path.join(root, "checkpoints.json"))
    noop("storage.checkpoint.filter_new", ckpt.filter_new(src, "checked", key_col="conv_id"))
    noop("storage.tier_table.read", TierTable(f"{root}/rollup_1min").read(spark))
    series = pinned(transcripts_to_series(src, channel="text_len"))
    noop("operators.checks", run_checks(series, cfg, chunk_span_seconds=hot_span))
    checked = pinned(
        run_checks(series, cfg, chunk_span_seconds=hot_span).select(
            "key", "ts", "value", "flags", "conv_id", "turn_idx"
        )
    )

    def filled():
        return gap_fill_auto(
            checked, step, max_gap_slots=60,
            hot_span_slots=hot_span * MICROS // step.micros,
        )

    noop("operators.gapfill", filled())
    filled_df = pinned(filled().select("key", "ts", "value", "flags"))
    agg_cfg = cfg.aggregations[0]
    reg = regularize(filled_df, step, mode=mode_for_method(agg_cfg.method))
    noop(
        "operators.regularize_aggregate",
        aggregate(reg, agg_cfg, cfg.source_time_step, source_df=filled_df),
    )
    noop("rollup.rollup_transcripts", rollup_transcripts(src, "1min"))
    t1min = pinned(rollup_transcripts(src, "1min"))
    noop("rollup.rollup_tier", rollup_tier(t1min, "1H"))
    agg_tier = pinned(TierTable(f"{root}/{AGG_STAGE}").read(spark))
    noop("storage.gorilla.compress", gorilla.compress_series(agg_tier, flags_col="flags"))
    comp = pinned(TierTable(f"{root}/{AGG_STAGE}_gorilla").read(spark))
    noop("storage.gorilla.decompress", gorilla.decompress_series(comp))
    for df in (src, series, checked, filled_df, t1min, agg_tier, comp):
        df.unpersist()
    points = sum(s.row_count for s in TierTable(f"{root}/{AGG_STAGE}").snapshots())
    run.layers["storage.gorilla.bytes_per_point"] = (
        _dir_bytes(f"{root}/{AGG_STAGE}_gorilla/data") / max(points, 1)
    )


def storage_layers(run: Run, root: str, turns: int) -> None:
    from enhydris_autoprocess_spark.storage import TierTable

    manifests = snaps = 0
    for name in sorted(os.listdir(root)):
        m = os.path.join(root, name, "manifest.jsonl")
        if os.path.exists(m):
            manifests += os.path.getsize(m)
            snaps += len(TierTable(os.path.join(root, name)).snapshots())
    run.layers["storage.tier_table.manifest_bytes"] = manifests
    run.layers["storage.tier_table.snapshots"] = snaps
    run.layers["storage.checkpoint.file_bytes"] = os.path.getsize(
        os.path.join(root, "checkpoints.json")
    )
    run.layers["storage.bytes_per_turn"] = _dir_bytes(root) / turns


def trace_layers(run: Run) -> None:
    """Per-layer times from the recorded spans."""
    tr = run.tracer
    run.layers["tier_query_s"] = sum(tr.total(f"read.{kind}") for kind, _ in READS)
    for name in (
        "pipeline.checked", "pipeline.agg",
        "operators.checks", "operators.gapfill", "operators.regularize_aggregate",
        "rollup.rollup_transcripts", "rollup.rollup_tier",
        "storage.tier_table.append", "storage.tier_table.read",
        "storage.checkpoint.filter_new", "storage.checkpoint.advance",
        "storage.gorilla.compress", "storage.gorilla.decompress",
        "textops.minhash", "textops.jaccard_verify", "textops.simhash",
        "textops.embedding_lsh", "textops.topk",
    ):
        run.layers[f"{name}_s"] = tr.total(name)
    run.layers["storage.tier_table.append_calls"] = tr.count("storage.tier_table.append")
    # run_rollups is one call for three tiers: the per-tier split is the
    # StageResult timing the pipeline returns for each
    for r in run.last_stages:
        if r.stage.startswith("rollup_"):
            run.layers[f"pipeline.{r.stage}_s"] = r.seconds


def traced(run: Run, what: str, op):
    """Run the timed operation ``op()`` with the shims installed,
    inside the root span ``op``, timed as in an untraced run; sets the
    ``trace.*`` metrics against the untraced twin child run."""
    run.tracer.enabled = True
    run.tracer.install(shim_targets())
    try:
        with run.tracer.span("op"):
            out = run.time_op(what, op)
    finally:
        run.tracer.uninstall()
        run.op_span_id = run.tracer.spans[-1].span_id
    if out is not None:
        base = run.children[0]["metrics"]["op_wall_s"]["value"]
        run.layers.update(
            {"trace.untraced_op_s": base, "trace.traced_op_s": run.op_s,
             "trace.overhead_s": run.op_s - base}
        )
    return out


def run_group(cmd: list[str], timeout: float) -> str:
    """Run ``cmd`` in its own process group and return its stdout. On
    timeout or interruption the whole group (with the child's JVM) is
    killed and waited for before the exception propagates."""
    with subprocess.Popen(
        cmd, stdout=subprocess.PIPE, text=True, start_new_session=True
    ) as p:
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:  # the timeout, or this process interrupted
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise
    if p.returncode:
        raise subprocess.CalledProcessError(p.returncode, cmd, out)
    return out


def child_run(workload: str, seed: int, cores: int) -> dict:
    """The same workload and seed as an untraced benchmark run on
    ``cores`` cores in a fresh process; returns its result object."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = run_group(
        [
            sys.executable, os.path.join(here, "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", "1", "--trace", "0", "--cores", str(cores),
            "--skip-checks",
        ],
        timeout=CHILD_TIMEOUT_S,
    )
    return json.loads(out.strip().splitlines()[-1])


CHILD_TIMEOUT_S = 120
HISTORY_TIMEOUT_S = 600


# Child runs a traced run compares against, by core count. Every run
# times the first operation after session start, which one process
# cannot repeat, so the untraced twin (the tracing overhead baseline)
# runs in a child on all cores; dedup also runs its single-core
# baseline for engine.scaling_eff_1_to_4 there.
TRACE_CHILD_CORES = {"incremental": (None,), "dedup": (None, 1)}


# --- incremental -----------------------------------------------------------


def _source_digest() -> str:
    """Hash of the library and generator sources and the history
    parameters: a cached history is reused only by the code and
    settings that built it."""
    import enhydris_autoprocess_spark as pkg

    h = hashlib.sha256(
        repr((HISTORY_TURNS, HISTORY_BATCHES, HISTORY_SEED, BATCH_TURNS, BASE_US)).encode()
    )
    pkg_dir = os.path.dirname(pkg.__file__)
    files = [inputs.__file__] + [
        os.path.join(d, f)
        for d, _, fs in sorted(os.walk(pkg_dir))
        for f in sorted(fs)
        if f.endswith(".py")
    ]
    for path in files:
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build_history(spark, path: str) -> None:
    """Build the history into ``path``: a finalized 30-day backfill,
    then ``HISTORY_BATCHES`` daily batches with ``finalize=False``."""
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    first = inputs.write_transcripts(spark, f"{tmp}/in/h0", HISTORY_SEED, HISTORY_TURNS, BASE_US)
    run_pipeline(spark, f"{tmp}/root", first, finalize=True)
    batches = [first]
    for k in range(HISTORY_BATCHES):
        b = inputs.write_transcripts(
            spark, f"{tmp}/in/h{k + 1}", HISTORY_SEED + k + 1, BATCH_TURNS,
            inputs.next_batch_us(batches[-1]["max_ts_us"]), one_day=True,
        )
        run_pipeline(spark, f"{tmp}/root", b, finalize=False)
        batches.append(b)
    meta = {
        "root": f"{tmp}/root",
        "inputs": [os.path.relpath(b["path"], tmp) for b in batches],
        "turns": sum(b["turns"] for b in batches),
        "max_ts_us": batches[-1]["max_ts_us"],
    }
    with open(f"{tmp}/meta.json", "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)


def history(cache: str) -> dict:
    """The pre-built history (tier root plus the inputs that built it),
    built by the first run in a checkout, whatever its workload, and
    reused read-only by every later run. It is built in a separate
    process before anything is timed, so neither its cost nor the JIT
    warmth of building it reaches a measurement."""
    path = os.path.join(cache, f"history-{_source_digest()}")
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        # leftovers of an interrupted build, or of other library sources
        shutil.rmtree(cache, ignore_errors=True)
        os.makedirs(cache)
        print("perfbench: building the incremental history", file=sys.stderr)
        run_group([sys.executable, os.path.abspath(__file__), path], HISTORY_TIMEOUT_S)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["built_root"] = meta["root"]
    meta["root"] = os.path.join(path, "root")
    meta["inputs"] = [os.path.join(path, p) for p in meta["inputs"]]
    return meta


def restore(hist: dict, dest: str) -> None:
    """Copy the history's tier root to ``dest``, rewriting the absolute
    data-directory paths its manifests hold."""
    shutil.copytree(hist["root"], dest)
    for name in os.listdir(dest):
        m = os.path.join(dest, name, "manifest.jsonl")
        if os.path.exists(m):
            with open(m) as f:
                text = f.read()
            with open(m, "w") as f:
                f.write(text.replace(hist["built_root"] + "/", dest + "/"))


def warm_workers(spark) -> None:
    """Start the Python worker of every core and run one Arrow batch
    through each."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    twice = F.pandas_udf(lambda s: s * 2, "long")
    spark.range(0, 1000 * n, numPartitions=n).select(F.sum(twice("id"))).collect()


def incremental(run: Run, trace: bool, setup_done) -> None:
    from enhydris_autoprocess_spark.storage import TierTable

    warm_workers(run.spark)
    run.note("workers warmed")
    hist = run.hist
    root = run.path("root")
    restore(hist, root)
    base = inputs.next_batch_us(hist["max_ts_us"])
    batch = inputs.write_transcripts(
        run.spark, run.path("in", "batch"), run.seed * 1000, BATCH_TURNS, base, one_day=True
    )
    run.note("batch written")
    pre = tuple(
        TierTable(f"{root}/{t}").current_snapshot().snapshot_id
        for t in (AGG_STAGE, f"{AGG_STAGE}_gorilla")
    )
    setup_done()
    run.note("setup done")

    def ingest_and_read():
        stages = run_pipeline(run.spark, root, batch, False)
        return stages, dashboard_reads(run, root, batch)

    what = "incremental ingest and reads"
    out = traced(run, what, ingest_and_read) if trace else run.time_op(what, ingest_and_read)
    run.end_timed()
    run.note("operation done")
    if out is None:
        return
    run.last_stages, reads = out
    if trace:
        layer_probes(run, batch, root)
        run.note("layer probes done")
        storage_layers(run, root, hist["turns"] + batch["turns"])
        trace_layers(run)
    # nothing writes after the reads, so the files each table lists now
    # are the ones its read saw
    for r, (_, table) in zip(reads, READS):
        r["dirs"] = verify.tier_dirs(f"{root}/{table}")
    run.check(
        "incremental rollups vs DuckDB", verify.check_rollups_incremental, run.con,
        root, hist["inputs"] + [batch["path"]], base,
    )
    run.check("gorilla vs agg tier", verify.check_gorilla, run.spark, run.con, root, AGG_STAGE, pre)
    run.check("dashboard reads vs DuckDB", verify.check_reads, run.con, reads)
    run.note("checks done")


# --- dedup -------------------------------------------------------------------


def dedup_chain(run: Run, corpus: dict) -> dict:
    """MinHash candidates with exact shingle-Jaccard verification,
    SimHash pairs, embedding LSH near-dup pairs and LSH top-k for the
    query set; every result is collected inside its span."""
    from enhydris_autoprocess_spark.textops import dedup, similarity

    spark, tr = run.spark, run.tracer
    docs = spark.read.parquet(corpus["paths"]["docs"])
    vecs = spark.read.parquet(corpus["paths"]["vecs"])
    out = {}
    with tr.span("textops.minhash"):
        cand = dedup.minhash_dedup_pairs(docs, threshold=0.5, est_filter=False).persist()
        out["candidates"] = cand.count()
    with tr.span("textops.jaccard_verify"):
        out["jaccard"] = [
            tuple(r) for r in dedup.ngram_jaccard_pairs(
                docs, k=3, threshold=0.5, candidates=cand
            ).select("id_a", "id_b", "jaccard").collect()
        ]
    cand.unpersist()
    with tr.span("textops.simhash"):
        out["simhash"] = [
            tuple(r) for r in dedup.simhash_dedup_pairs(docs).select(
                "id_a", "id_b", "hamming"
            ).collect()
        ]
    with tr.span("textops.embedding_lsh"):
        out["embedding"] = [
            tuple(r) for r in similarity.embedding_near_dup_pairs(
                vecs, threshold=0.9, method="lsh"
            ).select("id_a", "id_b", "cosine").collect()
        ]
    with tr.span("textops.topk"):
        out["topk"] = topk(spark, corpus)
    return out


def topk(spark, corpus: dict) -> list[tuple]:
    """LSH cosine top-10 of every query vector."""
    from pyspark.sql import functions as F

    from enhydris_autoprocess_spark.textops import similarity

    vecs = spark.read.parquet(corpus["paths"]["vecs"])
    queries = spark.read.parquet(corpus["paths"]["queries"])
    return [
        tuple(r) for r in similarity.lsh_cosine_topk(vecs, queries, k=10).select(
            "query_id", "neighbor_id", F.col("rank").cast("long"), "score"
        ).collect()
    ]


def dedup_workload(run: Run, trace: bool, setup_done) -> None:
    warm_workers(run.spark)
    corpus = inputs.write_corpus(run.path("in", "corpus"), run.seed, N_DOCS, N_VECS, N_QUERIES)
    setup_done()
    run.note("setup done")

    def chain():
        return dedup_chain(run, corpus)

    out = traced(run, "dedup chain", chain) if trace else run.time_op("dedup chain", chain)
    run.end_timed()
    run.note("operation done")
    if out is None:
        return
    if trace:
        one = run.children[1]["metrics"]["op_wall_s"]["value"]
        run.layers.update(
            {"textops.candidate_pairs": out["candidates"],
             "textops.verify_yield": len(out["jaccard"]) / max(out["candidates"], 1),
             "engine.scaling_eff_1_to_4":
                 one / (run.nproc * run.layers["trace.untraced_op_s"])}
        )
        trace_layers(run)
    run.check("dedup pairs vs exact reference", verify.check_dedup, out, corpus)
    run.note("checks done")


WORKLOADS = {"incremental": incremental, "dedup": dedup_workload}


if __name__ == "__main__":
    # python3 perfbench/workloads.py HISTORY_DIR: build the incremental
    # history there, in its own session
    work = f"{sys.argv[1]}.work-{os.getpid()}"
    sparkenv.confine(work)
    sys.path.insert(0, sparkenv.REPO)
    spark = sparkenv.start(work, sparkenv.nproc())
    try:
        build_history(spark, sys.argv[1])
    finally:
        sparkenv.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
