"""The three workloads: ``playlist_etl``, ``warehouse_sql``, ``corpus_kernels``.

Each is one closed-loop client on ``local[<cpus>]``: set-up (session,
Python workers where the workload runs Python kernels, one untimed warm
pass), then a timed window of whole passes until ``--seconds`` have
passed (at least one pass), then the correctness checks.  NOTES.md gives
each workload's reason and the layer -> metric predictions.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback

from .oracle import Oracle
from .playlists import PlaylistGenerator, Sizes
from .trace import EventLog, Tracer, find_event_log

WAREHOUSE_SQL = [
    "health_rowcounts",
    "pipeline_latency_minutes",
    "flagship_top_revenue",
    "q5_local_supplier_volume",
    "q18_large_volume_orders",
    "asof_last_purchase_before_click",
    "window_running_sum",
    "json_props_extract",
    "events_sessionize",
    "data_quality_expectations",
]
CAPSTONE = "llm_corpus_end_to_end"
CORPUS_KERNELS = [
    "knn_brute_force_arrow",
    CAPSTONE,
]
MIXES = {"warehouse_sql": WAREHOUSE_SQL, "corpus_kernels": CORPUS_KERNELS}
#: oracle-less entries -> the oracle-checked twin that vouches for each
TWINS = {
    "knn_brute_force_arrow": "knn_brute_force_arrow_agree",
}
#: iterative operators whose job count per execution the traced run reports,
#: each run once, untimed, over the sf 0.001 tables (``LOOP_SF``) to keep
#: the traced run inside the time budget
LOOP_QUERIES = [
    "dedup_resolve_clusters_logstar",
    "dedup_substring_cut_fixpoint",
    "pagerank_nation_trade",
    "bpe_train_merges",
]
E2E_STAGES = [
    "intradoc_cut",
    "crossdoc_cut",
    "quality_tier",
    "temperature_mix",
    "leak_free_split",
    "bpe_train",
    "encode_pack_manifest",
]
#: timed passes per run at least; with more than one, each query's time
#: is its minimum over them (the repository's min-of-N protocol)
MIN_PASSES = 1
#: the query workloads' tables: a copy of the repository's sf 0.01 fixture
#: set (TESTDATA.md), the scale its oracle tests use
SF = "sf0.01"
LOOP_SF = "sf0.001"
LINEAGE_TS = "2024-06-01 00:00:00"
#: playlist_etl round: 100 snapshots of 100 tracks batch-loaded (the
#: stream's bootstrap takes them in one micro-batch, the per-trigger cap),
#: then 2 epochs of 25 (one micro-batch each); the warm round runs the
#: batch steps and the bootstrap once
PLAYLIST_SIZES = Sizes(batch_docs=100, epochs=2, docs_per_epoch=25)
WARM_SIZES = Sizes(batch_docs=2, epochs=0, docs_per_epoch=0)
TINY_SIZES = Sizes(batch_docs=4, epochs=2, docs_per_epoch=1)


def materialize(df) -> None:
    """Full evaluation of every column, rows discarded executor-side — the
    ``noop`` sink ``bench.py`` times with."""
    df.write.format("noop").mode("overwrite").save()


def data_files(path: str) -> dict[str, tuple[int, int]]:
    """Data files under ``path`` (Spark's ``_SUCCESS``/``.crc`` markers
    and the pointer files left out): path -> (size, mtime_ns)."""
    out = {}
    for base, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                st = os.stat(os.path.join(base, f))
                out[os.path.join(base, f)] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(path: str) -> int:
    return sum(size for size, _ in data_files(path).values())


def written_bytes(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> int:
    """Bytes of the files in ``after`` that are new or rewritten since
    ``before`` — what a step wrote, whatever its layout."""
    return sum(st[0] for p, st in after.items() if before.get(p) != st)


def descendants() -> set[int]:
    """This process and every process it started, directly or not."""
    parent: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, pp in parent.items():
            if pp in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """VmHWM of this process plus its Spark JVM (a java descendant)."""
    me = os.getpid()
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if pid != me and comm != "java":
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tail_percentile(n: int) -> int | None:
    """The highest percentile of ``n`` samples with at least 10 samples
    beyond it (None when there are 10 or fewer)."""
    if n <= 10:
        return None
    return (100 * (n - 10)) // n


def percentile(values: list[float], pct: int) -> float:
    xs = sorted(values)
    return xs[max(0, -(-pct * len(xs) // 100) - 1)]


class Bench:
    """One run: counters, spans, the session, and the reported figures."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str,
                 t0: float):
        self.t0 = t0  # process start, on the perf_counter clock
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.input_s = 0.0  # benchmark-side input building inside set-up
        self.figures: dict[str, object] = {}
        self.spark = None
        self.plant = False  # self-test: corrupt one checked row
        self.event_dir = os.path.join(work, "eventlog", self.tracer.run_id)

    # -- operations -------------------------------------------------------
    def op(self, name: str, group: str, fn):
        """One counted operation (query execution, ETL step or epoch);
        returns (result, seconds), result None when it raised."""
        self.attempted += 1
        with self.tracer.span(name, group) as rec:
            try:
                out = fn()
            except Exception as exc:  # noqa: BLE001 — counted, reported
                out = None
                traceback.print_exc()
                self.fail(f"{name}: {type(exc).__name__}: {exc}")
        return out, rec["end"] - rec["start"]

    def fail(self, why: str) -> None:
        self.failed += 1
        self.problems.append(why[:400])

    def inputs(self, name: str, fn):
        """Benchmark-side input building, kept out of ``setup_s``."""
        t0 = time.perf_counter()
        with self.tracer.span(f"inputs.{name}"):
            out = fn()
        self.input_s += time.perf_counter() - t0
        return out

    def start_session(self) -> None:
        from spotify_etl_pipeline_spark.session import get_spark

        conf = None
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
            }
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.tracer.sc = self.spark.sparkContext
        self.tracer.job_groups = self.trace
        self.spark.sparkContext.setLogLevel("ERROR")

    def warm_workers(self) -> None:
        with self.tracer.span("session.worker_warm", "setup:worker_warm"):
            self.spark.range(64).repartition(8).mapInPandas(
                lambda it: it, "id long"
            ).count()

    def stop(self) -> EventLog | None:
        from pyspark import SparkContext

        self.figures["peak_rss_mb"] = peak_rss_mb()
        started = descendants() - {os.getpid()}
        self.spark.stop()
        # the JVM exits when its stdin pipe closes, and the Python workers
        # it forked exit with it; wait for all of them, so no process
        # outlives the run
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while any(_alive(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not self.trace:
            return None
        ev = EventLog(find_event_log(self.event_dir))
        shutil.rmtree(self.event_dir)  # tens of MB a run, parsed already
        return ev


# -- query workloads --------------------------------------------------------


def run_queries(b: Bench, tables_dir: str) -> None:
    from spotify_etl_pipeline_spark.queries import endtoend
    from spotify_etl_pipeline_spark.queries.catalog import full_catalog

    mix = MIXES[b.workload]
    cat = full_catalog()
    b.start_session()
    spark = b.spark
    if b.workload == "corpus_kernels":
        b.warm_workers()
    # warm pass: every entry once (its oracle twin where it has none);
    # the collected rows are checked against the oracle after the window
    results: dict[str, tuple[list[str], list[tuple]]] = {}
    for name in mix:
        target = TWINS.get(name, name)

        def collect(target=target):
            df = cat[target].fn(spark, tables_dir)
            return list(df.columns), [tuple(r) for r in df.collect()]

        out, _ = b.op(f"warm.{target}", f"warm:{target}", collect)
        spark.catalog.clearCache()
        if out is not None:
            results[target] = out
    t_window = time.perf_counter()
    b.figures["setup_s"] = t_window - b.t0 - b.input_s

    rng = random.Random(b.seed)
    passes: list[dict[str, float]] = []
    stage_marks: list[dict[str, float]] = []
    deadline = t_window + b.seconds
    orig_cep = endtoend.curate_encode_pack
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        k = len(passes)
        times: dict[str, float] = {}
        for name in rng.sample(mix, len(mix)):
            spark.catalog.clearCache()
            marks: dict[str, float] = {}
            if b.trace and name == CAPSTONE and k == 0:
                # stage attribution through the capstone's own hook
                def cep(*a, _marks=marks, **kw):
                    _marks["enter"] = time.perf_counter()
                    return orig_cep(*a, on_stage=lambda s: _marks.__setitem__(s, time.perf_counter()), **kw)

                endtoend.curate_encode_pack = cep
            try:
                _, secs = b.op(
                    f"queries.{name}",
                    f"q:{name}:p{k}",
                    lambda name=name: materialize(cat[name].fn(spark, tables_dir)),
                )
            finally:
                endtoend.curate_encode_pack = orig_cep
            times[name] = secs
            if marks:
                span = b.tracer.spans[-1]
                marks["start"], marks["end"] = span["start"], span["end"]
                stage_marks.append(marks)
        spark.catalog.clearCache()
        passes.append(times)
    window_s = time.perf_counter() - t_window

    if b.trace:
        # one untimed execution of each loop operator, for its job count
        loop_dir = os.path.join(os.path.dirname(tables_dir), LOOP_SF)
        for name in LOOP_QUERIES:
            b.op(f"loops.{name}", f"loop:{name}",
                 lambda name=name: materialize(cat[name].fn(spark, loop_dir)))
            spark.catalog.clearCache()
    ev = b.stop()

    if b.plant:
        rows = next(rows for _cols, rows in results.values() if rows)
        rows[0] = tuple(f"{v}-planted" for v in rows[0])
    oracle = Oracle(tables_dir, os.path.join(b.work, "oracle"))
    for target, (cols, rows) in results.items():
        try:
            problems = oracle.check(cat[target].oracle, cols, rows)
        except Exception as exc:  # noqa: BLE001
            problems = [f"oracle error {type(exc).__name__}: {exc}"]
        if problems:
            b.fail(f"{target}: " + "; ".join(problems))
    oracle.close()

    per_query = {n: min(p[n] for p in passes) for n in mix}
    f = b.figures
    f["window_s"] = window_s
    f["passes"] = len(passes)
    f["pass_s"] = sum(per_query.values())
    f["query_mix_s"] = f["pass_s"]
    f["queries"] = per_query
    if CAPSTONE in mix:
        f["capstone_s"] = per_query[CAPSTONE]
    if stage_marks:
        f["e2e"] = capstone_stages(stage_marks[0])
        f["capstone_s"] = f["e2e"]["total"]
    if ev is not None:
        groups = [f"q:{n}:p{k}" for k in range(len(passes)) for n in mix]
        summ = ev.summary(groups)
        f["eventlog"] = {
            k: (v / len(passes) if isinstance(v, (int, float)) else v)
            for k, v in summ.items()
        }
        f["python_worker_s"] = f["eventlog"]["python_worker_s"]
        f["loop_jobs"] = {n: ev.group_jobs.get(f"loop:{n}", 0) for n in LOOP_QUERIES}


def capstone_stages(m: dict[str, float]) -> dict[str, float]:
    """Consecutive stage intervals from ``curate_encode_pack``'s marks;
    the composition gap is the capstone time no stage covers (loading
    the documents before the first stage), so stages + gap = total."""
    out: dict[str, float] = {}
    prev = m["enter"]
    for stage in E2E_STAGES[:-1]:
        out[stage] = m[stage] - prev
        prev = m[stage]
    out["encode_pack_manifest"] = m["end"] - prev
    out["total"] = m["end"] - m["start"]
    out["composition_gap"] = out["total"] - sum(out[s] for s in E2E_STAGES)
    return out


# -- playlist ETL -----------------------------------------------------------


class EtlRound:
    """One batch load plus its incremental epochs, in its own directory."""

    def __init__(self, b: Bench, gen, tag: str) -> None:
        from spotify_etl_pipeline_spark.sources.ingest import PlaylistExtractor

        self.b = b
        self.gen = gen
        self.root = os.path.join(b.work, "etl", tag)
        shutil.rmtree(self.root, ignore_errors=True)
        self.bronze = os.path.join(self.root, "bronze")
        self.raw = os.path.join(self.bronze, "raw_data", "to_processed")
        self.gold_root = os.path.join(self.root, "gold")
        self.silver_root = os.path.join(self.root, "silver")
        self.ckpt = os.path.join(self.root, "checkpoint")

        def extractor(snap):
            return PlaylistExtractor(
                bronze_root=self.bronze, fetcher=snap.fetcher(), now=lambda ts=snap.ts: ts
            ), snap.url

        # fetchers serve pages built here, before any timed window
        self.batch = [extractor(s) for s in gen.batch]
        self.epochs = [[extractor(s) for s in e] for e in gen.epochs]
        self.tracks = 0
        self.epoch_s: list[float] = []
        self.snapshot_bytes = 0

    def _extract(self, extractors) -> None:
        for ex, url in extractors:
            with self.b.tracer.span("sources.extract"):
                res = ex.extract(url)
            self.tracks += res.run_log["tracks_extracted"]

    def run(self, k: int) -> None:
        from pyspark.sql import functions as F

        from spotify_etl_pipeline_spark.etl.normalize import normalize_documents, read_bronze
        from spotify_etl_pipeline_spark.etl.star import build_gold, reference_analytics, write_gold
        from spotify_etl_pipeline_spark.etl.validate import validate_star
        from spotify_etl_pipeline_spark.streaming.pipeline import run_incremental

        b, spark = self.b, self.b.spark
        t0 = time.perf_counter()
        b.op("etl.extract_batch", f"etl:extract:r{k}", lambda: self._extract(self.batch))

        def normalize():
            with b.tracer.span("sources.read_bronze"):
                bronze = read_bronze(spark, self.raw)
            silver = normalize_documents(bronze)
            lineage = F.to_timestamp(F.lit(LINEAGE_TS))
            return build_gold(silver, transformed_at=lineage, loaded_at=lineage)

        gold, _ = b.op("etl.normalize", f"etl:normalize:r{k}", normalize)
        b.op("etl.write_gold", f"etl:write_gold:r{k}", lambda: write_gold(gold, self.gold_root))
        stored = {n: spark.read.parquet(os.path.join(self.gold_root, n)) for n in gold}
        self.violations, _ = b.op(
            "etl.validate", f"etl:validate:r{k}",
            lambda: {n: df.count() for n, df in validate_star(stored).items()},
        )
        self.analytics, _ = b.op(
            "etl.reference_analytics", f"etl:analytics:r{k}",
            lambda: {n: [tuple(r) for r in df.collect()]
                     for n, df in reference_analytics(stored).items()},
        )
        self.batch_s = time.perf_counter() - t0
        self.batch_tracks = self.tracks
        self.batch_files = [os.path.join(self.raw, f) for f in sorted(os.listdir(self.raw))]
        # the stream's first run takes in the batch-loaded snapshots
        b.op("streaming.bootstrap", f"stream:bootstrap:r{k}",
             lambda: run_incremental(spark, self.raw, self.silver_root, self.ckpt))
        for e, extractors in enumerate(self.epochs):
            def epoch(extractors=extractors):
                self._extract(extractors)
                with b.tracer.span("streaming.run_incremental"):
                    run_incremental(spark, self.raw, self.silver_root, self.ckpt)

            before = data_files(self.silver_root)
            _, secs = b.op("streaming.epoch", f"stream:epoch{e}:r{k}", epoch)
            self.epoch_s.append(secs)
            # measured outside the epoch's time; the snapshot GC keeps the
            # last two, so a one-micro-batch epoch's writes are all still there
            self.snapshot_bytes += written_bytes(before, data_files(self.silver_root))
        self.round_s = time.perf_counter() - t0

    def silver_bytes(self) -> int:
        """Bytes of the current silver snapshots (the pointer targets)."""
        total = 0
        for table in ("albums", "artists", "songs"):
            ptr = os.path.join(self.silver_root, table, "_CURRENT")
            if os.path.exists(ptr):
                with open(ptr, encoding="utf-8") as fh:
                    total += dir_bytes(os.path.join(self.silver_root, table, fh.read().strip()))
        return total

    def exploded_rows(self) -> int:
        """Rows of the normalize step's explode over the batch-loaded
        bronze (the input the gold row counts come from)."""
        from spotify_etl_pipeline_spark.etl.normalize import exploded_tracks, read_bronze

        return exploded_tracks(read_bronze(self.b.spark, self.batch_files)).count()

    def check(self) -> None:
        """The four playlist checks; each mismatch counts as a failure."""
        from tests.oracle_compare import compare_results

        from spotify_etl_pipeline_spark.etl.normalize import normalize_documents, read_bronze
        from spotify_etl_pipeline_spark.streaming.pipeline import read_silver

        b, spark, truth = self.b, self.b.spark, self.gen.batch_truth
        if b.plant and self.analytics:
            top = self.analytics["top10_songs"]
            top[0] = (top[0][0] + "-planted",) + top[0][1:]
        bad = {n: v for n, v in (self.violations or {}).items() if v}
        if self.violations is None or bad:
            b.fail(f"validate_star violations: {bad}")
        got = dict((self.analytics or {}).get("health_rowcounts", []))
        if got != truth.rowcounts():
            b.fail(f"gold row counts {got} != truth {truth.rowcounts()}")
        top = (self.analytics or {}).get("top10_songs")
        if top != truth.top10():
            b.fail(f"top-10 {top} != truth {truth.top10()}")
        batch = normalize_documents(read_bronze(spark, self.raw))
        for name, df in batch.items():
            streamed = read_silver(spark, self.silver_root, name)
            if streamed is None:
                b.fail(f"streamed silver {name} missing")
                continue
            cols = sorted(df.columns)
            problems = compare_results(
                cols, [tuple(r) for r in df.select(cols).collect()],
                cols, [tuple(r) for r in streamed.select(cols).collect()],
            )
            if problems:
                b.fail(f"streamed silver {name} != batch normalize: {problems}")


def run_playlist(b: Bench, sizes: Sizes) -> None:
    gen = b.inputs("playlists", lambda: PlaylistGenerator(b.seed, sizes))
    warm_gen = b.inputs("warm_playlists", lambda: PlaylistGenerator(b.seed + 1, WARM_SIZES))
    b.start_session()
    warm = b.inputs("warm_round", lambda: EtlRound(b, warm_gen, "warm"))
    warm.run(-1)
    t_window = time.perf_counter()
    b.figures["setup_s"] = t_window - b.t0 - b.input_s
    deadline = t_window + b.seconds
    rounds: list[EtlRound] = []
    while not rounds or time.perf_counter() < deadline:
        r = EtlRound(b, gen, f"r{len(rounds)}")
        r.run(len(rounds))
        rounds.append(r)
    window_s = time.perf_counter() - t_window
    last = rounds[-1]
    last.check()
    # traced runs only: one more Spark job, outside every timed window
    exploded = last.exploded_rows() if b.trace else None
    silver_bytes = last.silver_bytes()
    gold_bytes = dir_bytes(last.gold_root)
    bronze_files = [f for f in os.listdir(last.raw) if f.endswith(".json")]
    bronze_bytes = sum(os.path.getsize(os.path.join(last.raw, f)) for f in bronze_files)
    ev = b.stop()

    f = b.figures
    epochs = [s for r in rounds for s in r.epoch_s]
    pct = tail_percentile(len(epochs))
    f["window_s"] = window_s
    f["passes"] = len(rounds)
    f["pass_s"] = statistics.median(r.round_s for r in rounds)
    f["etl_batch_tracks_per_s"] = statistics.median(r.batch_tracks / r.batch_s for r in rounds)
    f["ingest_to_queryable_p50_s"] = statistics.median(epochs)
    if pct is not None:
        f["ingest_to_queryable_tail_pct"] = pct
        f["ingest_to_queryable_tail_s"] = percentile(epochs, pct)
    f["storage_bytes_per_input_byte"] = (silver_bytes + gold_bytes) / bronze_bytes
    f["generator"] = gen.record()
    n = len(rounds)

    def sp(name: str) -> list[float]:  # the timed rounds' spans
        return b.tracer.seconds(name, since=t_window)

    rc = dict(last.analytics.get("health_rowcounts", [])) if last.analytics else {}
    f["layers"] = {
        "sources.extract_s": sum(sp("sources.extract")) / n,
        "sources.extract_calls": len(sp("sources.extract")) // n,
        "sources.bronze_files": len(bronze_files),
        "sources.bronze_bytes": bronze_bytes,
        "sources.read_bronze_s": statistics.median(sp("sources.read_bronze")),
        "etl.normalize_s": statistics.median(sp("etl.normalize")),
        "etl.exploded_rows": exploded,
        "etl.silver_rows.albums": rc.get("tblAlbum", 0),
        "etl.silver_rows.artists": rc.get("tblArtist", 0),
        "etl.silver_rows.songs": rc.get("tblSongs", 0),
        "etl.dedup_keep_ratio": rc.get("tblSongs", 0) / exploded if exploded else None,
        "etl.write_gold_s": statistics.median(sp("etl.write_gold")),
        "etl.gold_bytes": gold_bytes,
        "etl.validate_s": statistics.median(sp("etl.validate")),
        "etl.violations": sum((last.violations or {}).values()),
        "etl.reference_analytics_s": statistics.median(sp("etl.reference_analytics")),
        "streaming.run_incremental_s": statistics.median(sp("streaming.run_incremental")),
        "streaming.epochs": len(last.epoch_s),
        "streaming.snapshot_bytes_written": last.snapshot_bytes,
        "streaming.write_amplification": last.snapshot_bytes / bronze_bytes,
        "streaming.silver_bytes": silver_bytes,
    }
    if ev is not None:
        f["layers"]["sources.scan_tasks"] = ev.scan_tasks(f"etl:write_gold:r{n - 1}")
        # streaming micro-batches run under the query's own job group, so
        # this sums over every group of the run (warm round included)
        f["python_worker_s"] = ev.summary(list(ev.group_jobs))["python_worker_s"]
