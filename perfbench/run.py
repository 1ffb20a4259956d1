"""The repo benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload raster --seed 1 --seconds 10 --trace 0

Workloads (corpus sizes in ``perfbench/corpus.py``):

* ``raster`` — IMG1 pages through ``extract_spans(docs, blobs_path)`` into a
  ``noop`` sink.  Decode is cheap; kernel and Spark-side layers do the work.
* ``crawl`` — the 9-format ``mixed`` media rotation interleaved 1:10 with
  HTML-markup docs in one docs table, ``extract_spans(html=True)``, committed
  as one snapshot into a fresh native Iceberg table via ``write_table``.

A run sets up once, cold: a Spark session start in a new JVM at
``local[N]`` with ``session.get_spark``'s defaults, N the size of this
process's CPU affinity set, plus one warm pass over a small fixed warm-up
corpus.  (A cold set-up costs ~20 s on a 4-vCPU VM, a third of a run; one
per run keeps a run near a minute.)  The seed's corpus is made before the
set-up, in a JVM of its own, when it is not cached (see ``_set_up``).  A
run then times full passes for ``--seconds`` (at least ``MIN_PASSES``),
checking the output against the plan-derived goldens (see ``Workload``).

``--trace 0`` prints the end-to-end metrics, with tracing off:
  docs_per_s / pages_per_s  docs / media pages of the corpus over the median
                            timed pass's wall time;
  peak_rss_mb               median over passes of the peak summed RSS of the
                            JVM and the Python-worker process tree;
  setup_s                   the cold set-up: session start + warm pass
                            (corpus generation excluded: it is cached).

``--trace 1`` enables an uncompressed event log on the session and prints
the per-layer ledger instead: layer times from a single-process replay of
the corpus through the decode stage's own row function with timing wrappers
around each layer's functions (``ledger.LayerClock``), page markers from the
decode stage, Spark stage/task/SQL metrics from the event log, RSS from
``/proc``, and the QUERIES on seeded query tables, each checked against its
DuckDB oracle.  Each layer's figures should move this end-to-end metric:

  decode.* (codecs behind media.iter_pages)       pages_per_s on crawl, ~0 on raster
  binarize/lines/cluster/geometry/ocr/build/plots pages_per_s on raster, little on crawl
  stage.* (operators.decode_detect)               pages_per_s on raster and crawl
  scan.*, decode_stage.* (sources.media_parquet)  pages_per_s, mostly on crawl
  assemble.* (groupBy(doc_id) shuffle + join)     docs_per_s on raster
  html.* (htmlx)                                  docs_per_s on crawl
  html_only.* (extract_spans(blobs=None))         docs_per_s on crawl; 0 exchanges
  sink.* (write_table → iceberg_native)           docs_per_s on crawl
  jvm.*, executor.*, *_rss_peak_mb, session.*     peak_rss_mb and setup_s
  host.steal_frac (the hypervisor's CPU share)    none: it flags runs the host slowed
  replay.*, spark_efficiency, stage.worker_slowdown
                                                  pages_per_s (the pool→Spark gap)
  query_s.*, queries.suite_s (queries.*)          none of the above: they share only
                                                  session confs and Spark with extraction

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
``attempted`` counts checked docs and decoded pages (and, traced, queries).  A doc whose spans
differ from its golden, and a page the decode stage reports an error for
(assembly drops error rows, so a failing blank page would not change its
doc's spans), and a query that differs from its oracle count as failed and
make the run exit 1 after printing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORKLOADS = ("raster", "crawl")
MIN_PASSES = 3
PHASE = "perfbench.phase"  # Spark local property tagging each traced pass
# the relational/text/vector queries of bench.py's headline set, timed in
# the traced run on the seed's query tables (perfbench/querydata.py)
QUERIES = (
    "q01_pricing_summary", "q03_segment_revenue", "q05_top2_orders_per_customer",
    "q06_sessionize", "q13_minhash_signature", "q14_minhash_band_pairs",
    "q20_ann_cosine_topk", "q22_embedding_near_dups", "q26_ivf_ann",
    "q27_winnow_fingerprint", "q31_embedding_multiband_near_dups",
)
HTML_DOC = "hdoc-"  # the id prefix of fixtures.html_gen's markup docs


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str, trace: bool) -> str | None:
    """Keep every Spark/Python temporary path inside the checkout and put the
    repo on the Python workers' import path.  Returns the event-log dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # workers are forked by the JVM and import the engine by module name;
    # run from anywhere but the repo root they would not find it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    evdir = None
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        # Spark 4 defaults to zstd-compressed logs; keep one plain JSON file
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{evdir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return evdir


def _start(cores: int):
    from tableextraction_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _set_up(w: Workload, cores: int):
    """A cold set-up: a new JVM and session, then a warm pass over the fixed
    warm-up corpus → (session, start seconds, start + warm pass seconds).

    A missing warm-up corpus or blobs table is made first, in a session of
    its own.  Made in the timed session, its Spark jobs would warm the JVM
    and the Python workers, shorten the warm pass, and leave the generator's
    memory in the RSS peaks (measured on raster: 3.9 GB against 2.5 GB from
    a cached corpus).  Markup docs alone are small and are made in the timed
    session, so crawl's seeds, which share one blobs table, need no extra
    JVM."""
    from perfbench.corpus import blobs_ready, corpus_ready

    if not corpus_ready(w.spec.warm(), CACHE) or not blobs_ready(w.spec, CACHE):
        spark = _start(cores)
        try:
            w.materialize(spark, warm=True)
            w.materialize(spark)
        finally:
            _shutdown(spark)
    t0 = time.perf_counter()
    spark = _start(cores)
    try:
        started = time.perf_counter() - t0
        w.materialize(spark, warm=True)
        return spark, started, started + w.run(spark, warm=True)[0]
    except BaseException:
        _shutdown(spark)
        raise


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Workload:
    """One workload's corpus and its pass over the public pipeline.

    ``crawl`` reads back and checks the table its first timed pass commits
    (after that pass's timing ends); ``raster``'s noop sink leaves nothing to
    read back, so it is checked by one extra pass whose sink is a collect.
    Both also run the decode stage alone once (``decode_scan``) to count its
    error rows.
    """

    def __init__(self, name: str, seed: int, work: str):
        from perfbench.corpus import spec_for

        self.name = name
        self.spec = spec_for(name, seed)
        self.work = work
        self.commits = name == "crawl"
        self.n_pages = 0
        self.n_tables = 0  # tables committed so far
        self.sink_bytes = self.sink_snapshots = 0
        self.docs_checked = self.docs_bad = 0  # golden check, over passes
        self.pages_decoded = self.decode_errors = 0  # decode-stage check
        self.steal_frac = 0.0  # of the timed passes' window
        self._golden = None

    def materialize(self, spark, warm: bool = False) -> None:
        """Generate (or reuse) the corpus, or with ``warm`` the warm-up one."""
        import pyarrow.parquet as pq
        from perfbench.corpus import ensure_corpus

        if warm:
            self.warm_paths = ensure_corpus(spark, self.spec.warm(), CACHE)
            return
        self.paths = ensure_corpus(spark, self.spec, CACHE)
        self.n_pages = pq.ParquetDataset(self.paths[1]).read(columns=["page_no"]).num_rows

    def run(self, spark, warm: bool = False, check: bool = False):
        """One pass over the corpus (or the warm-up corpus) → (seconds until
        the sink returned, wall-clock ms at that moment)."""
        from tableextraction_spark.pipeline import extract_spans

        docs_path, blobs_path = self.warm_paths if warm else self.paths
        t0 = time.perf_counter()
        out = extract_spans(
            spark, spark.read.parquet(docs_path), blobs_path, html=self.name == "crawl"
        )
        if not self.commits:
            if check:
                rows = out.collect()
            else:
                out.write.format("noop").mode("overwrite").save()
            done = time.perf_counter() - t0, time.time() * 1000
            if check:
                self.check(rows)
            return done
        from tableextraction_spark.sources import (
            NATIVE_ICEBERG_SCHEME,
            read_table,
            write_table,
        )
        from tableextraction_spark.sources.iceberg_native import snapshot_ids

        self.n_tables += 1
        table = os.path.join(self.work, f"spans-{self.n_tables}")
        write_table(out, NATIVE_ICEBERG_SCHEME + table)
        done = time.perf_counter() - t0, time.time() * 1000
        if check:
            # the read-back is not part of the traced pass
            spark.sparkContext.setLocalProperty(PHASE, None)
            self.check(read_table(spark, NATIVE_ICEBERG_SCHEME + table).collect())
        self.sink_snapshots = len(snapshot_ids(table))
        self.sink_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(table) for f in fs
        )
        shutil.rmtree(table)
        return done

    def decode_scan(self, spark) -> list:
        """The decode stage alone over the corpus (untimed) → its rows; the
        pages it decoded and the error rows it returned join the check."""
        from perfbench.corpus import decode_failures
        from tableextraction_spark.sources import detect_tables_python_scan

        rows = (
            detect_tables_python_scan(spark, self.paths[1])
            .select("obj_no", "kind", "n_items", "error", "wall_ms")
            .collect()
        )
        pages, errors = decode_failures(rows)
        self.pages_decoded += pages
        self.decode_errors += errors
        return rows

    @property
    def attempted(self) -> int:
        return self.docs_checked + self.pages_decoded

    @property
    def failed(self) -> int:
        return self.docs_bad + self.decode_errors

    def check(self, rows, html_only: bool = False) -> None:
        """Collected (doc_id, spans) rows against the goldens of the corpus,
        or with ``html_only`` of its markup docs."""
        from perfbench.corpus import check_rows, golden_spans

        if self._golden is None:
            self._golden = golden_spans(self.spec)
        golden = self._golden
        if html_only:
            golden = {d: g for d, g in golden.items() if d.startswith(HTML_DOC)}
        self.docs_checked += len(golden)
        self.docs_bad += check_rows(rows, golden)


def _measure(w: Workload, spark, seconds: float, rss, traced: bool = False):
    """Check the output, then time full passes until ``seconds`` have
    elapsed (at least MIN_PASSES) → per pass (seconds, peak RSS
    total/JVM/Python bytes, wall-clock ms when the sink returned).  Records
    the CPU steal share of the timed window in ``w.steal_frac``."""
    if not traced:  # the traced run scans the decode stage in _markers
        w.decode_scan(spark)
    if not w.commits:  # a noop sink leaves nothing to read back
        w.run(spark, check=True)
    from perfbench.ledger import cpu_ticks, steal_frac

    out = []
    ticks = cpu_ticks()
    t_end = time.perf_counter() + seconds
    while len(out) < MIN_PASSES or time.perf_counter() < t_end:
        if traced:
            spark.sparkContext.setLocalProperty(PHASE, f"traced-{len(out)}")
        rss.window()
        # a committed table is read back and checked after its pass's timing
        # ends; once is enough, and keeps the window for timed passes
        dt, done_ms = w.run(spark, check=w.commits and not out)
        out.append((dt, *rss.window(), done_ms))
    if traced:
        spark.sparkContext.setLocalProperty(PHASE, None)
    w.steal_frac = steal_frac(ticks, cpu_ticks())
    return out


def end_to_end(w: Workload, cores: int, seconds: float):
    from perfbench.ledger import RssSampler

    rss = RssSampler()
    spark = None
    try:
        spark, _started, setup_s = _set_up(w, cores)
        w.materialize(spark)
        passes = _measure(w, spark, seconds, rss)
    finally:
        rss.close()
        if spark is not None:
            _shutdown(spark)
    wall = statistics.median(p[0] for p in passes)
    print(
        f"perfbench: workload={w.name} seed={w.spec.seed} cores={cores} "
        f"docs={w.spec.n_docs} pages={w.n_pages} "
        f"passes_s={[round(p[0], 3) for p in passes]} "
        f"setup_s={setup_s:.3f} steal_frac={w.steal_frac:.3f}"
    )
    metrics = {
        "docs_per_s": (w.spec.n_docs / wall, "1/s"),
        "pages_per_s": (w.n_pages / wall, "1/s"),
        "peak_rss_mb": (statistics.median(p[1] for p in passes) / 2**20, "MB"),
        "setup_s": (setup_s, "s"),
    }
    return metrics, w.attempted, w.failed


def per_layer(w: Workload, cores: int, seconds: float, evdir: str):
    from perfbench.ledger import (
        RssSampler,
        read_event_log,
        stage_ledger,
        summarize_event_log,
        traced_events,
    )

    rss = RssSampler()
    spark = None
    m: dict[str, tuple[float, str]] = {"cores": (cores, "count")}
    try:
        spark, started, _setup_s = _set_up(w, cores)
        app_id = spark.sparkContext.applicationId
        m["session.start_s"] = (started, "s")
        w.materialize(spark)
        m.update(_markers(w, spark))
        passes = _measure(w, spark, seconds, rss, traced=True)
        html_passes = _html_only(w, spark, m)
        q_attempted, q_failed = _queries(spark, w.spec.seed, m)
    finally:
        rss.close()
        if spark is not None:
            _shutdown(spark)  # flushes and closes the event log
    wall = statistics.median(p[0] for p in passes)
    m["jvm_rss_peak_mb"] = (statistics.median(p[2] for p in passes) / 2**20, "MB")
    m["python_rss_peak_mb"] = (statistics.median(p[3] for p in passes) / 2**20, "MB")
    m["host.steal_frac"] = (w.steal_frac, "ratio")

    # the timed session's log; a run that made a corpus first also holds the
    # log of the session that made it
    (log,) = [os.path.join(evdir, f) for f in os.listdir(evdir) if f.startswith(app_id)]
    events = read_event_log(log)
    summary = summarize_event_log(traced_events(events, PHASE, "traced"))
    m.update((k, (v, _unit(k))) for k, v in stage_ledger(summary, cores, len(passes)).items())
    if html_passes:
        html_only = summarize_event_log(traced_events(events, PHASE, "htmlonly"))
        exchanges = stage_ledger(html_only, cores, html_passes)["assemble.exchanges"]
    else:
        exchanges = 0
    m["html_only.exchanges"] = (exchanges, "count")
    m.update(_sink_metrics(w, events, passes))
    m.update(_scan_metrics(w))
    single_core_s = _replay(w, m)
    # the Σ single-core work spread perfectly over N cores, against the pass
    m["spark_efficiency"] = (single_core_s / (cores * wall), "ratio")
    m["check.golden_match_frac"] = ((w.docs_checked - w.docs_bad) / w.docs_checked, "ratio")
    m["check.failed_frac"] = (w.decode_errors / w.pages_decoded, "ratio")
    return m, w.attempted + q_attempted, w.failed + q_failed


def _html_only(w: Workload, spark, m: dict) -> int:
    """The markup docs alone through ``extract_spans(docs, None, html=True)``,
    the plan with no decode stage: one checked pass, then MIN_PASSES timed
    ones into a ``noop`` sink, tagged ``htmlonly`` in the event log.  Fills
    ``html_only.ms_per_doc`` (median pass) → timed passes (0 without markup
    docs)."""
    from pyspark.sql import functions as F
    from tableextraction_spark.pipeline import extract_spans

    if not w.spec.html:
        m["html_only.ms_per_doc"] = (0.0, "ms")
        return 0
    docs = spark.read.parquet(w.paths[0]).where(F.col("doc_id").startswith(HTML_DOC))
    w.check(extract_spans(spark, docs, None, html=True).collect(), html_only=True)
    times = []
    for k in range(MIN_PASSES):
        spark.sparkContext.setLocalProperty(PHASE, f"htmlonly-{k}")
        t0 = time.perf_counter()
        extract_spans(spark, docs, None, html=True).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    spark.sparkContext.setLocalProperty(PHASE, None)
    m["html_only.ms_per_doc"] = (statistics.median(times) * 1000 / len(w.spec.html), "ms")
    return len(times)


def _queries(spark, seed: int, m: dict) -> tuple[int, int]:
    """The QUERIES on the seed's query tables: each checked once against its
    DuckDB oracle (``queries.oracle_check``; the check also warms it), then
    timed once into a ``noop`` sink.  Fills ``query_s.<name>`` and
    ``queries.suite_s`` → (queries checked, checks failed)."""
    from perfbench.querydata import ensure_query_data
    from tableextraction_spark.queries import REGISTRY
    from tableextraction_spark.queries.oracle_check import check_query, duck_connection

    sf_dir = ensure_query_data(seed, CACHE)
    con = duck_connection(sf_dir)
    failed = 0
    for name in QUERIES:
        fn, sql = REGISTRY[name]
        ok, detail = check_query(spark, con, fn, sql, sf_dir)
        if not ok:
            print(f"perfbench: {name} differs from its oracle: {detail}", file=sys.stderr)
            failed += 1
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        m[f"query_s.{name}"] = (time.perf_counter() - t0, "s")
        spark.catalog.clearCache()
    con.close()
    m["queries.suite_s"] = (sum(m[f"query_s.{q}"][0] for q in QUERIES), "s")
    return len(QUERIES), failed


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_frac", "ratio"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "bytes" if "bytes" in name else "count"


def _sink_metrics(w: Workload, events: list[dict], passes) -> dict:
    """Commit latency = last job end of a traced pass → write_table return."""
    if w.name != "crawl":
        return {
            "sink.commit_ms": (0.0, "ms"),
            "sink.bytes_written": (0, "bytes"),
            "sink.snapshots_added": (0, "count"),
        }
    job_pass = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            phase = (ev.get("Properties") or {}).get(PHASE, "")
            if phase.startswith("traced-"):
                job_pass[ev["Job ID"]] = int(phase.split("-")[1])
    last_end: dict[int, float] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobEnd" and ev["Job ID"] in job_pass:
            k = job_pass[ev["Job ID"]]
            last_end[k] = max(last_end.get(k, 0), ev["Completion Time"])
    return {
        "sink.commit_ms": (
            statistics.median(passes[k][4] - t for k, t in last_end.items()), "ms"
        ),
        "sink.bytes_written": (w.sink_bytes, "bytes"),
        "sink.snapshots_added": (w.sink_snapshots, "count"),
    }


def _scan_metrics(w: Workload) -> dict:
    from tableextraction_spark.sources import list_row_groups

    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        splits = list_row_groups(w.paths[1])
        times.append((time.perf_counter() - t0) * 1000)
    return {
        "scan.plan_ms": (statistics.median(times), "ms"),
        "scan.splits": (len(splits), "count"),
    }


def _markers(w: Workload, spark) -> dict:
    """The decode stage alone over the corpus → page-marker statistics."""
    rows = w.decode_scan(spark)
    marks = sorted(r.wall_ms for r in rows if r.obj_no == -1)
    tables = [r.n_items for r in rows if r.kind == "table"]
    w.marker_ms = sum(marks)
    w.marker_objects = (len(tables), sum(tables))
    return {
        "stage.page_ms_p50": (statistics.median(marks), "ms"),
        "stage.page_ms_p99": (statistics.quantiles(marks, n=100, method="inclusive")[98], "ms"),
        "stage.page_samples": (len(marks), "count"),
        "tables_per_page": (len(tables) / w.n_pages, "count"),
        "cells_per_page": (sum(tables) / w.n_pages, "count"),
        "decode.errors": (sum(1 for r in rows if r.error is not None), "count"),
    }


def _replay(w: Workload, m: dict) -> float:
    """Single-process replay: the decode stage's own row function over the
    blob rows, in batches of 16, under a :class:`LayerClock`; then every
    markup doc through ``htmlx``.  Fills the layer metrics → total
    single-core seconds."""
    import pyarrow.dataset as ds
    from perfbench.corpus import MIXED_FORMATS
    from perfbench.ledger import LAYERS, LayerClock, replay_html
    from tableextraction_spark.operators.decode_detect import process_content_rows

    fmt_s = dict.fromkeys(MIXED_FORMATS, 0.0)  # decode seconds per format
    fmt_pages = dict.fromkeys(MIXED_FORMATS, 0)
    media_s = 0.0
    tables = cells = marker_ms = 0
    columns = ["doc_id", "media_ref", "page_no", "content"]

    def fmt(doc_id: str) -> str:
        return w.spec.media_format(int(doc_id.rsplit("-", 1)[1]))

    with LayerClock() as clock:
        for batch in ds.dataset(w.paths[1]).to_batches(columns=columns, batch_size=16):
            calls = len(clock.decode_calls)
            t0 = time.perf_counter()
            out = process_content_rows(batch)
            media_s += time.perf_counter() - t0
            for did, dt in zip(batch.column("doc_id").to_pylist(), clock.decode_calls[calls:]):
                fmt_s[fmt(did)] += dt
            out = out.to_pydict()
            for did, o, kind, n, ms in zip(
                out["doc_id"], out["obj_no"], out["kind"], out["n_items"], out["wall_ms"]
            ):
                if o == -1:
                    fmt_pages[fmt(did)] += 1
                    marker_ms += ms
                elif kind == "table":
                    tables += 1
                    cells += n
    if (tables, cells) != w.marker_objects:
        # the same function on the same rows: the replay read other input
        raise RuntimeError(
            f"replay found {tables} tables / {cells} cells, the decode stage "
            f"{w.marker_objects[0]} / {w.marker_objects[1]}"
        )
    layer_s = clock.seconds
    for layer in LAYERS[1:]:
        m[f"{layer}.ms_per_page"] = (layer_s[layer] * 1000 / w.n_pages, "ms")
    for f, v in fmt_s.items():
        m[f"decode.ms_per_page.{f}"] = (v * 1000 / fmt_pages[f] if fmt_pages[f] else 0.0, "ms")
    m["decode.share"] = (layer_s["decode"] / media_s, "ratio")
    # the share of the stage function's own time that no layer accounts for
    m["stage.unattributed_frac"] = (1 - sum(layer_s.values()) / media_s, "ratio")
    # page time in a Spark worker against the same pages in one process,
    # both from the stage's page markers
    m["stage.worker_slowdown"] = (w.marker_ms / marker_ms, "ratio")
    m["replay.pages_per_s_1core"] = (w.n_pages / media_s, "1/s")

    from tableextraction_spark.fixtures.html_gen import gen_html_doc

    html_s = 0.0
    kb = spans = 0
    for num in w.spec.html:
        (markup,) = [s["text"] for s in gen_html_doc(num)[0]["spans"] if s["kind"] == "html"]
        dt, n = replay_html(markup)
        html_s += dt
        kb += len(markup.encode()) / 1024
        spans += n
    nh = max(1, len(w.spec.html))
    m["html.ms_per_doc"] = (html_s * 1000 / nh, "ms")
    m["html.kb_per_doc"] = (kb / nh, "KB")
    m["html.spans_per_doc"] = (spans / nh, "count")
    return media_s + html_s


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import tableextraction_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        evdir = _prepare_env(work, bool(args.trace))
        w = Workload(args.workload, args.seed, work)
        if args.trace:
            metrics, attempted, failed = per_layer(w, cores, args.seconds, evdir)
        else:
            metrics, attempted, failed = end_to_end(w, cores, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
