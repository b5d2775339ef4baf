"""Extraction-job benchmark.

One process per call: it generates the workload's input
from ``--seed``, starts Spark on ``local[N]`` (N = $SPARK_GRAFT_CPUS, else
the CPUs this process may run on), and runs the package's user-facing
entry points -- ``plans.extraction.run_extraction`` and
``plans.corpus.build_training_corpus`` -- one job at a time (closed loop,
one client), for a fixed number of timed runs sized to ``--seconds``.
Every timed run is checked against a serial oracle (``oracle.py``).

    python3 perfbench/run.py --workload extract_uniform --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --smoke --trace 1

The package ships to the Python workers as a zip through ``addPyFile``,
as ``spark-submit --py-files`` would ship it; this process imports it
from the same zip.  ``--trace 1`` starts Spark with its event log on,
makes one untraced run and one traced run with spans around each call
into a layer, then times each layer's public functions on the same input
(``probe.py``), with a host canary before and after.  The last line on
stdout is one JSON object: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``.  Everything a run writes stays under ``.perfbench/`` in
the checkout; the full record of a run is kept in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "web_mass_scraper_ocr_spark"
STATE = ROOT / ".perfbench"
SNAPSHOT = "bench"
WARMUP_SEED = 0
MIN_RUNS = 1
TRACE_RUNS = 1  # per phase of a traced call, which also runs the layer probes
MIN_QUALITY, MIN_WORDS = 0.3, 3  # build_training_corpus defaults the oracle checks against

sys.path.insert(0, str(HERE))
from probe import ProcTree, Tracer, alive, eventlog_totals  # noqa: E402
from workloads import WORKLOADS, generate, write_table  # noqa: E402

END_TO_END_UNITS = {"turns_per_s": "turns/s", "wall_s": "s", "setup_s": "s"}
# printed with them, but per-layer in BENCHMARK.json: a fresh JVM's JIT
# and heap sizing spread them too widely between runs to bound
PROCESS_UNITS = {"process.cpu_s_per_kturn": "s", "process.peak_rss_mb": "MB"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_package(dest: Path) -> Path:
    """Zip the package the way it ships to a cluster (``--py-files``)."""
    src = ROOT / PKG
    if not (src / "__init__.py").is_file():
        raise SystemExit(f"perfbench: no {PKG} package next to {HERE.name}/; run from a checkout of the repository")
    dest.mkdir(parents=True, exist_ok=True)
    out = dest / "app.zip"
    tmp = dest / f"app-{os.getpid()}.zip"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for path in sorted(src.rglob("*.py")):
            zf.write(path, path.relative_to(ROOT).as_posix())
    tmp.replace(out)
    return out


def load_host_canary():
    """``bench.host_canary`` from the repository root, imported as is."""
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    if spec is None or not (ROOT / "bench.py").is_file():
        raise SystemExit("perfbench: bench.py not found at the repository root")
    saved = list(sys.path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod  # the canary's pool pickles its worker by module name
    spec.loader.exec_module(mod)
    sys.path[:] = saved  # bench.py puts the repo root first on import
    return mod.host_canary


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return float(statistics.median(xs))


class Session:
    """One Spark JVM with the package shipped to its Python workers."""

    def __init__(self, cpus: int, work: Path, zip_path: Path, eventlog: Path | None):
        self.cpus, self.work, self.zip_path, self.eventlog = cpus, work, zip_path, eventlog

    def start(self):
        from web_mass_scraper_ocr_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            # -XX:-UsePerfData: no hsperfdata file in the host's /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
        }
        if not os.environ.get("SPARK_LOCAL_DIRS"):
            conf["spark.local.dir"] = str(self.work / "local")
        if self.eventlog is not None:
            self.eventlog.mkdir(parents=True, exist_ok=True)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog.as_uri(),
                "spark.eventLog.compress": "false",
            }
        spark = get_spark(app_name="perfbench", master=f"local[{self.cpus}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.addPyFile(str(self.zip_path))
        return spark

    @staticmethod
    def stop(spark, tree: ProcTree) -> None:
        """Stop Spark and its JVM, and wait until every process it
        started has exited."""
        from pyspark import SparkContext

        started = tree.descendants()
        spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            proc.wait(timeout=120)
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the Python daemon exits once the JVM is gone; give it a minute
        deadline = time.monotonic() + 60
        while started & alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in started & alive():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


class Bench:
    def __init__(self, args, wl, work: Path, cpus: int, tree: ProcTree):
        from web_mass_scraper_ocr_spark.config import ExtractionConfig

        self.args, self.wl, self.work, self.cpus, self.tree = args, wl, work, cpus, tree
        self.cfg = ExtractionConfig()
        self.pdf = generate(wl, args.seed, args.smoke)
        self.warm_pdf = generate(wl, WARMUP_SEED, smoke=True)
        self.tracer = Tracer(f"{wl.name}-{args.seed}")
        self.input_table = None
        self.template = None
        self.todo_convs = None
        self.removed_buckets: list[int] = []

    # -- set-up ------------------------------------------------------------
    def oracle(self) -> None:
        from oracle import serial_oracle

        with self.tracer.span("kernels.extract_turn", turns=len(self.pdf)):
            self.expected = serial_oracle(self.pdf, self.cfg.max_payload_chars, self.cfg.extractor_version)

    def warm_up(self, spark) -> None:
        """A fixed tiny pass of the workload's own entry point, so JVM
        class loading, code generation and the Python worker fork are
        paid before the first timed run."""
        from web_mass_scraper_ocr_spark.sources import tableio

        base = Path(tempfile.mkdtemp(prefix="warm-", dir=self.work))
        tbl = tableio.table(base, "transcripts")
        write_table(self.warm_pdf, tbl.data_dir)
        self.entry(spark, tbl.read(spark), base / "out")
        spark.catalog.clearCache()

    def setup(self, session: Session) -> tuple:
        """A cold set-up in a fresh JVM.  Returns (spark, start_s, warmup_s)."""
        with self.tracer.span("session.setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                spark = session.start()
            t1 = time.perf_counter()
            with self.tracer.span("session.warmup"):
                self.warm_up(spark)
            t2 = time.perf_counter()
        log(f"setup: start {t1 - t0:.2f}s warm-up {t2 - t1:.2f}s")
        return spark, t1 - t0, t2 - t1

    def prepare(self, spark) -> None:
        """Workload input on disk (not part of set-up time)."""
        from pyspark.sql import functions as F

        from web_mass_scraper_ocr_spark.plans.extraction import run_extraction
        from web_mass_scraper_ocr_spark.sources import tableio

        if self.input_table is not None:
            return
        self.input_table = tableio.table(self.work / "input", "transcripts")
        write_table(self.pdf, self.input_table.data_dir)
        self.todo_convs = set(self.pdf["conv_id"])
        if self.wl.resume_share:
            # the warehouse a completed run leaves, minus the checkpoint
            # rows of a seeded quarter of the buckets, as after a crash
            self.template = self.work / "template"
            run_extraction(spark, self.input_table.read(spark), self.template, snapshot_id=SNAPSHOT, cfg=self.cfg)
            rng = random.Random(self.args.seed)
            self.removed_buckets = sorted(rng.sample(range(self.cfg.n_buckets), int(self.cfg.n_buckets * self.wl.resume_share)))
            tableio.table(self.template, "extraction_checkpoint").delete_where(
                spark, F.col("conv_bucket").isin(self.removed_buckets)
            )
            removed = set(self.removed_buckets)
            self.todo_convs = {c for c, b in self.buckets(spark).items() if b in removed}

    def buckets(self, spark) -> dict:
        """conv_id -> checkpoint bucket, as the package assigns them."""
        from web_mass_scraper_ocr_spark.operators.resume import with_conv_bucket

        rows = with_conv_bucket(self.input_table.read(spark), self.cfg.n_buckets).select("conv_id", "conv_bucket").distinct()
        return {r["conv_id"]: r["conv_bucket"] for r in rows.collect()}

    # -- the job -------------------------------------------------------------
    def entry(self, spark, transcripts, dest: Path):
        """One job through the user-facing entry point, into every sink."""
        if self.wl.entry == "corpus":
            from web_mass_scraper_ocr_spark.plans.corpus import build_training_corpus

            build_training_corpus(transcripts, self.cfg).write.mode("overwrite").parquet(str(dest))
            return None
        from web_mass_scraper_ocr_spark.plans.extraction import run_extraction

        return run_extraction(spark, transcripts, dest, snapshot_id=SNAPSHOT, cfg=self.cfg)

    def timed_runs(self, spark, phase: str) -> list[dict]:
        runs: list[dict] = []
        first_keys = None
        # a fixed run count per --seconds: the median then always sits at
        # the same run position, whatever the speed of this host
        n_runs = TRACE_RUNS if self.args.trace else max(MIN_RUNS, round(self.args.seconds / self.wl.run_s))
        for i in range(n_runs):
            dest = self.work / f"{phase}-{i}"
            if self.template is not None:
                shutil.copytree(self.template, dest)
            todo = self.pdf[self.pdf["conv_id"].isin(self.todo_convs)]
            rec = {"turns": len(todo), "attempted": len(todo), "failed": 0}
            # start every run from a compacted JVM heap, so its peak RSS is
            # its own and not the high-water mark of the runs before it
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            spark.sparkContext.setJobGroup(f"e2e-{phase}-{i}", "timed run")
            self.tree.reset()
            cpu0 = self.tree.cpu_s()
            try:
                with self.tracer.span("e2e.run", phase=phase, index=i):
                    t0 = time.perf_counter()
                    report = self.entry(spark, self.input_table.read(spark), dest)
                    rec["wall_s"] = time.perf_counter() - t0
                rec["cpu_s"] = self.tree.cpu_s() - cpu0
                rec["peak_mb"] = self.tree.peaks()
                spark.sparkContext.setJobGroup("check", "oracle check")
                if self.wl.entry == "corpus":
                    spark.catalog.clearCache()
                    rec["failed"], keys = self.check_corpus(spark, dest, first_keys)
                    first_keys = first_keys or keys
                else:
                    rec["report"] = report
                    rec["failed"] = self.check_extraction(spark, dest, report, todo)
            except Exception:
                traceback.print_exc()
                rec["failed"] = rec["attempted"]
                rec.setdefault("wall_s", float("nan"))
            rec["failed"] = min(rec["failed"], rec["attempted"])
            runs.append(rec)
            log(f"{phase} run {i}: {rec['wall_s']:.2f}s failed {rec['failed']}/{rec['attempted']}")
            shutil.rmtree(dest, ignore_errors=True)
        return runs

    # -- checks --------------------------------------------------------------
    def check_extraction(self, spark, wh: Path, report: dict, todo) -> int:
        from oracle import count_mismatch, extraction_failures, spark_digest_col

        from web_mass_scraper_ocr_spark.sources import tableio

        rows = (
            tableio.table(wh, "extractions")
            .read(spark)
            .select("conv_id", "turn_idx", "turn_rank", spark_digest_col().alias("d"))
            .collect()
        )
        failed = extraction_failures(self.expected, rows)
        exp = self.expected[self.expected["conv_id"].isin(self.todo_convs)]
        failed += count_mismatch(exp["status"].value_counts().to_dict(), report["status_counts"])
        ingest = {
            "rows_in": len(todo),
            "rows_null_payload": int(todo["text"].isna().sum()),
            "rows_empty_payload": int((todo["text"] == "").sum()),
        }
        failed += count_mismatch(ingest, report["ingest_counts"])
        ckpt = tableio.table(wh, "extraction_checkpoint").read(spark)
        done = {r["conv_bucket"] for r in ckpt.where(ckpt.snapshot_id == SNAPSHOT).select("conv_bucket").distinct().collect()}
        skipped = self.cfg.n_buckets - len(self.removed_buckets) if self.template else 0
        if done != set(range(self.cfg.n_buckets)) or report["buckets_skipped_resume"] != skipped:
            failed = len(todo)
        return failed

    def check_corpus(self, spark, dest: Path, first_keys):
        from oracle import corpus_failures

        rows = [tuple(r) for r in spark.read.parquet(str(dest)).select("doc_key", "clean_text", "quality_score").collect()]
        return corpus_failures(self.expected, rows, first_keys, MIN_QUALITY, MIN_WORDS), frozenset(r[0] for r in rows)

    # -- per-layer probes (traced run only) ------------------------------------
    def probes(self, spark, runs: list[dict], untraced_wall: float) -> dict:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from web_mass_scraper_ocr_spark.operators.ordering import with_turn_rank
        from web_mass_scraper_ocr_spark.operators.resume import completed_buckets, remaining_work, with_conv_bucket
        from web_mass_scraper_ocr_spark.operators.skew import salted_repartition
        from web_mass_scraper_ocr_spark.plans.extraction import build_extraction_df, detect_ordering_mode
        from web_mass_scraper_ocr_spark.sources import tableio

        spark.sparkContext.setJobGroup("probe", "layer probes")
        cfg, span, m = self.cfg, self.tracer.span, {}
        read = lambda: self.input_table.read(spark)  # noqa: E731

        def timed(name, fn):
            with span(name):
                t0 = time.perf_counter()
                out = fn()
                m[name + "_s"] = time.perf_counter() - t0
            return out

        # input rows of this run's work, as run_extraction derives them
        if self.template is not None:
            ckpt = tableio.table(self.template, "extraction_checkpoint")
            todo = lambda: remaining_work(  # noqa: E731
                with_conv_bucket(read(), cfg.n_buckets),
                completed_buckets(ckpt.read(spark), SNAPSHOT, cfg.extractor_version),
            )
            timed("resume.antijoin", lambda: noop(todo()))
        else:
            todo = lambda: with_conv_bucket(read(), cfg.n_buckets)  # noqa: E731
            m["resume.antijoin_s"] = 0.0
        reports = [r["report"] for r in runs if r.get("report")]
        m["resume.rows_todo"] = median(r["ingest_counts"].get("rows_in", 0) for r in reports) if reports else float(len(self.pdf))
        m["resume.buckets_skipped"] = median(r["buckets_skipped_resume"] for r in reports) if reports else 0.0

        timed("tableio.scan", lambda: noop(read()))
        timed("ordering.detect", lambda: detect_ordering_mode(read()))
        timed("extraction.compute", lambda: noop(build_extraction_df(todo(), cfg)))

        valid = lambda: todo().where(  # noqa: E731
            F.col("text").isNotNull() & (F.col("text") != "") & (F.length("text") <= cfg.max_payload_chars)
        )
        # mirrors build_extraction_df: an explicit partition count pins the
        # shuffle, none leaves it to AQE coalescing
        keys = [cfg.extraction_partitions, F.col("conv_id")] if cfg.extraction_partitions else [F.col("conv_id")]
        if cfg.ordering_mode == "salted_window":
            arranged = lambda: salted_repartition(with_turn_rank(valid()), cfg.extraction_partitions, cfg.salt_factor)  # noqa: E731
        else:
            arranged = lambda: valid().repartition(*keys).sortWithinPartitions("conv_id", "turn_idx", "ts")  # noqa: E731
        timed("ordering.arrange", lambda: noop(arranged()))

        def max_over_mean(df, part) -> float:
            rows = [r["n"] for r in df.groupBy(part.alias("p")).agg(F.count(F.lit(1)).alias("n")).collect()]
            return max(rows) / (sum(rows) / len(rows)) if rows else 0.0

        # rows per partition as the extraction stage runs them (after AQE
        # coalescing), and as the hash partitioner assigns conversations
        # before coalescing: the skew a larger input would run into
        n_parts = cfg.extraction_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        m["ordering.part_skew"] = max_over_mean(arranged(), F.spark_partition_id())
        m["ordering.key_skew"] = max_over_mean(valid(), F.pmod(F.hash("conv_id"), F.lit(n_parts)))

        # kernels: single-core serial timing taken by the oracle
        exp = self.expected[self.expected["conv_id"].isin(self.todo_convs)]
        for kind in ("html", "pdf", "ocr", "plain"):
            sel = self.expected.loc[self.expected["content_kind"] == kind, "kernel_s"]
            m[f"kernels.{kind}_us"] = float(sel.mean() * 1e6) if len(sel) else 0.0
        m["kernels.cpu_s"] = float(exp["kernel_s"].sum())
        m["kernels.share"] = m["kernels.cpu_s"] / (untraced_wall * self.cpus)
        from web_mass_scraper_ocr_spark.kernels.status import ALL_STATUSES

        counts = exp["status"].value_counts().to_dict()
        for s in ALL_STATUSES:
            m[f"kernels.status.{s}"] = float(counts.get(s, 0))
        n_kernel = max(len(exp), 1)
        m["extract_udf.overhead_us"] = (
            (m["extraction.compute_s"] - m["ordering.arrange_s"]) * self.cpus - m["kernels.cpu_s"]
        ) / n_kernel * 1e6

        walls = [r["wall_s"] for r in runs]
        zero = ("tableio.overwrite_s", "tableio.files_written", "tableio.bytes_written", "tableio.readback_s",
                "tableio.append_s", "extraction.sink_s", "extraction.metrics_sink_s")
        m |= dict.fromkeys(zero, 0.0)
        if self.wl.entry == "extraction":
            m["extraction.sink_s"] = median(walls) - m["extraction.compute_s"]
            m["extraction.metrics_sink_s"] = median(r["wall_s"] - r["report"]["wall_seconds"] for r in runs if r.get("report"))
            result = build_extraction_df(todo(), cfg).withColumn(
                "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).cast("int")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            result.count()
            scratch = tableio.table(self.work / "probe", "extractions")
            timed("tableio.overwrite", lambda: scratch.overwrite_partitions(result, ["conv_bucket"]))
            files = list(scratch.data_dir.rglob("*.parquet"))
            m["tableio.files_written"] = float(len(files))
            m["tableio.bytes_written"] = float(sum(p.stat().st_size for p in files))
            bucket_of = self.buckets(spark)
            ids = sorted({bucket_of[c] for c in self.todo_convs})
            timed("tableio.readback", lambda: noop(scratch.read(spark).where(F.col("conv_bucket").isin(ids)).select("conv_bucket", "status")))
            rows = spark.createDataFrame([(SNAPSHOT, b, 1) for b in range(cfg.n_buckets)], "snapshot_id string, conv_bucket int, row_count long")
            timed("tableio.append", lambda: tableio.table(self.work / "probe", "checkpoint").append(rows))
            result.unpersist()

        m |= self.corpus_probes(spark, todo, timed) if self.wl.entry == "corpus" else {
            k: 0.0 for k in ("text.quality_s", "dedup.exact_s", "dedup.exact_dropped", "dedup.minhash_s",
                             "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.verify_yield")
        }
        return m

    def corpus_probes(self, spark, todo, timed) -> dict:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from web_mass_scraper_ocr_spark.functions.text import quality_frame
        from web_mass_scraper_ocr_spark.operators.dedup import dedup_exact, lsh_candidate_pairs, minhash_near_duplicates
        from web_mass_scraper_ocr_spark.plans.corpus import DOC_KEY
        from web_mass_scraper_ocr_spark.plans.extraction import build_extraction_df

        m = {}
        ok = (
            build_extraction_df(todo(), self.cfg)
            .where((F.col("status") == "success") & (F.col("n_words") >= MIN_WORDS))
            .withColumn(DOC_KEY, F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"), F.col("turn_rank").cast("string")))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        ok.count()
        scored_plan = lambda: quality_frame(ok, "clean_text").where(F.col("quality_score") >= MIN_QUALITY)  # noqa: E731
        timed("text.quality", lambda: noop(scored_plan()))
        scored = scored_plan().persist(StorageLevel.MEMORY_AND_DISK)
        n_scored = scored.count()
        uniq = dedup_exact(scored, DOC_KEY, "clean_text").persist(StorageLevel.MEMORY_AND_DISK)
        n_uniq = timed("dedup.exact", uniq.count)
        m["dedup.exact_dropped"] = float(n_scored - n_uniq)
        verified = timed("dedup.minhash", lambda: minhash_near_duplicates(uniq, DOC_KEY, "clean_text").count())
        candidates = lsh_candidate_pairs(uniq, DOC_KEY, "clean_text").count()
        m["dedup.candidate_pairs"] = float(candidates)
        m["dedup.verified_pairs"] = float(verified)
        m["dedup.verify_yield"] = verified / candidates if candidates else 0.0
        spark.catalog.clearCache()
        return m


def summarize(runs: list[dict], setup_s: float) -> tuple[dict, dict]:
    """(end-to-end metrics, process-tree metrics) of a set of runs."""
    ok = [r for r in runs if r["wall_s"] == r["wall_s"]]
    if not ok:
        raise RuntimeError("every timed run raised")
    e2e = {
        "turns_per_s": median(r["turns"] / r["wall_s"] for r in ok),
        "wall_s": median(r["wall_s"] for r in ok),
        "setup_s": setup_s,
    }
    process = {
        "process.cpu_s_per_kturn": median(r["cpu_s"] / (r["turns"] / 1000) for r in ok),
        "process.peak_rss_mb": median(r["peak_mb"]["total"] for r in ok),
    }
    return e2e, process


def run_one(args) -> int:
    wl = WORKLOADS[args.workload]
    zip_path = build_package(STATE / "build")
    host_canary = load_host_canary()
    sys.path.insert(0, str(zip_path))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = STATE / f"run-{wl.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM spark-submit runs to build its command line: no hsperfdata either
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    os.chdir(work)  # Python workers inherit the cwd: keep the checkout off their path
    results = STATE / "results"
    results.mkdir(parents=True, exist_ok=True)
    record: dict = {"workload": wl.name, "params": wl.params(args.seed), "cpus": cpus, "trace": args.trace}
    try:
        if args.trace:
            record["canary_before"] = host_canary(cpus)
        bench = None
        with ProcTree() as tree:
            bench = Bench(args, wl, work, cpus, tree)
            record["input_turns"] = len(bench.pdf)
            bench.oracle()
            # one session per call: a second cold start would double the
            # traced call's set-up, so the event log is on for both phases
            eventlog = work / "eventlog" if args.trace else None
            spark, start_s, warmup_s = bench.setup(Session(cpus, work, zip_path, eventlog))
            bench.prepare(spark)
            runs = bench.timed_runs(spark, "untraced")
            e2e, process = summarize(runs, start_s + warmup_s)
            record |= {"session_start_s": start_s, "session_warmup_s": warmup_s, "runs": runs,
                       "end_to_end": e2e, "process": process}
            all_runs = list(runs)
            if args.trace:
                traced = bench.timed_runs(spark, "traced")
                all_runs += traced
                ok = [r for r in traced if r["wall_s"] == r["wall_s"]]
                layer = bench.probes(spark, ok, e2e["wall_s"])
            Session.stop(spark, tree)
            if args.trace:
                layer |= eventlog_totals(eventlog, "e2e-traced-")
                layer |= process
                layer["session.start_s"] = start_s
                layer["session.warmup_s"] = warmup_s
                layer["pyworker.peak_rss_mb"] = median(r["peak_mb"].get("pyworker", 0.0) for r in ok)
                layer["jvm.peak_rss_mb"] = median(r["peak_mb"].get("jvm", 0.0) for r in ok)
                layer["trace.overhead_s"] = median(r["wall_s"] for r in ok) - e2e["wall_s"]
                record |= {"traced_runs": traced, "per_layer": layer}
        if args.trace:
            record["canary_after"] = host_canary(cpus)
        attempted = sum(r["attempted"] for r in all_runs)
        failed = sum(r["failed"] for r in all_runs)
        record["failed_frac"] = failed / attempted
        if args.trace:
            record["per_layer"]["failed_frac"] = record["failed_frac"]
            bench.tracer.dump(results / f"{wl.name}-s{args.seed}-trace.json")
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    (results / f"{wl.name}-s{args.seed}-t{args.trace}.json").write_text(json.dumps(record, indent=1, default=str))

    correct = failed == 0
    print(f"{wl.name} seed={args.seed} local[{cpus}] runs={len(runs)} correct={correct} failed_frac={record['failed_frac']:.6f}")
    for name, val in (record["end_to_end"] | record["process"]).items():
        print(f"  {name:<24} {val:12.4f} {(END_TO_END_UNITS | PROCESS_UNITS)[name]}")
    if args.trace:
        print(f"  host canary before {record['canary_before']} after {record['canary_after']}")
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(record["per_layer"].items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in record["end_to_end"].items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name in PROCESS_UNITS:
        return PROCESS_UNITS[name]
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("share", "skew", "yield", "frac")):
        return "ratio"
    if name == "tableio.bytes_written":
        return "bytes"
    return "count"


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"] |= {f"{name}/{k}": v for k, v in res["metrics"].items()}
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs; checks names, units and correctness quickly")
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
