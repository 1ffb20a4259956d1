"""Measurement helpers: process-tree RSS sampling, Spark event-log parsing,
and the layer clock that attributes the decode stage's page time to layers.

Nothing here changes what the program computes: RSS comes from ``/proc``,
Spark figures from the uncompressed event log the benchmark enables on its
own session, and layer times from timing wrappers put around each layer's
functions while the stage's own code runs in the benchmark's process.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ RSS


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid → (ppid, comm, rss bytes) for every readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: split after the LAST ')'
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(d)] = (int(fields[1]), comm, int(fields[21]) * PAGE_SIZE)
    return out


def tree_rss(root: int) -> tuple[int, int]:
    """(JVM bytes, Python-worker bytes) summed over ``root``'s descendants.

    ``root`` itself (the benchmark's own process) is excluded; a java
    process counts as JVM, every other descendant (the PySpark daemon and
    its forked workers) as Python-worker memory."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in table.items():
        children.setdefault(ppid, []).append(pid)
    jvm = py = 0
    stack = list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        _pp, comm, rss = table[pid]
        if comm == "java":
            jvm += rss
        else:
            py += rss
        stack.extend(children.get(pid, ()))
    return jvm, py


class RssSampler:
    """Background sampler of :func:`tree_rss`; peaks are read per window."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._reset()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _reset(self):
        self.peak_total = self.peak_jvm = self.peak_py = 0

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            jvm, py = tree_rss(me)
            with self._lock:
                self.peak_total = max(self.peak_total, jvm + py)
                self.peak_jvm = max(self.peak_jvm, jvm)
                self.peak_py = max(self.peak_py, py)
            self._stop.wait(self.interval)

    def window(self) -> tuple[int, int, int]:
        """(total, jvm, python) peak bytes since the previous call."""
        with self._lock:
            peaks = (self.peak_total, self.peak_jvm, self.peak_py)
            self._reset()
        return peaks

    def close(self):
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from ``/proc/stat``.

    Steal is time the hypervisor ran something else on this VM's CPUs; a
    window's share of it says how far a slow run was the host's doing."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


# ------------------------------------------------------------ event log


def read_event_log(path: str) -> list[dict]:
    """Events of one uncompressed, non-rolling Spark event log file."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def traced_events(events: list[dict], prop: str, prefix: str) -> list[dict]:
    """The events of jobs whose local property ``prop`` starts with
    ``prefix``, plus the SQL plan events that name their metrics."""
    stage_ids, exec_ids = set(), set()
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get(prop, "").startswith(prefix):
                stage_ids.update(ev.get("Stage IDs", ()))
                exec_ids.add(props.get("spark.sql.execution.id"))
    keep = []
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerTaskEnd":
            ok = ev["Stage ID"] in stage_ids
        elif kind == "SparkListenerStageCompleted":
            ok = ev["Stage Info"]["Stage ID"] in stage_ids
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ok = str(ev.get("executionId")) in exec_ids
        else:
            ok = kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate"))
        if ok:
            keep.append(ev)
    return keep


def summarize_event_log(events: list[dict]) -> dict:
    """Stage/task/SQL-metric aggregates of Spark events.

    Returns ``{"stages", "sql"}``: each stage holds its wall time,
    task times, GC/CPU time, shuffle traffic and the plan-node names whose
    metrics its tasks updated; ``sql`` maps ``"<node>/<metric name>"`` to
    the summed metric value.
    """
    acc_owner: dict[int, tuple[str, str]] = {}
    for ev in events:
        if ev.get("Event", "").endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _plan_nodes(ev.get("sparkPlanInfo", {})):
                for m in node.get("metrics", ()):
                    acc_owner[int(m["accumulatorId"])] = (node["nodeName"], m["name"])
    sql: dict[str, float] = {}
    stages: dict[tuple[int, int], dict] = {}

    def add_sql(acc_id, value) -> str | None:
        owner = acc_owner.get(int(acc_id))
        if owner is None:
            return None
        k = f"{owner[0]}/{owner[1]}"
        sql[k] = sql.get(k, 0) + _num(value)
        return owner[0]

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            st = stages.setdefault(key, _new_stage(key))
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            st["task_ms"].append(info["Finish Time"] - info["Launch Time"])
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            for a in info.get("Accumulables", ()):
                if "Update" in a:
                    node = add_sql(a["ID"], a["Update"])
                    if node:
                        st["nodes"].add(node)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            st = stages.setdefault(key, _new_stage(key))
            if "Submission Time" in si and "Completion Time" in si:
                st["wall_ms"] = si["Completion Time"] - si["Submission Time"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", ()):
                add_sql(acc_id, value)
    return {"stages": [stages[k] for k in sorted(stages)], "sql": sql}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _new_stage(key) -> dict:
    return {
        "id": key[0], "attempt": key[1], "task_ms": [], "cpu_ns": 0,
        "gc_ms": 0, "shuffle_write_bytes": 0, "shuffle_write_records": 0,
        "shuffle_read_bytes": 0, "fetch_wait_ms": 0, "wall_ms": 0,
        "nodes": set(),
    }


def stage_ledger(summary: dict, cores: int, passes: int) -> dict:
    """Per-pass Spark-side metrics from :func:`summarize_event_log`.

    The decode stage is every stage whose tasks updated ``MapInArrow``
    metrics; the assembly stages are those that read shuffle output.
    Additive figures are divided by ``passes`` (the traced passes the log
    covers); the straggler ratio and core-busy fraction pool the decode
    tasks of all passes.
    """
    stages = summary["stages"]
    decode = [s for s in stages if "MapInArrow" in s["nodes"]]
    tasks = [t for s in decode for t in s["task_ms"]]
    d_wall = sum(s["wall_ms"] for s in decode)
    readers = [s for s in stages if s["shuffle_read_bytes"] > 0]

    def py(metric: str) -> float:  # a MapInArrow SQL metric, per pass
        return summary["sql"].get(f"MapInArrow/{metric}", 0) / passes

    def total(key: str) -> float:
        return sum(s[key] for s in stages) / passes

    median = statistics.median(tasks) if tasks else 0
    return {
        "decode_stage.tasks": len(tasks) / passes,
        "decode_stage.straggler_ratio": max(tasks) / median if median else 0.0,
        "decode_stage.core_busy_frac": sum(tasks) / (cores * d_wall) if d_wall else 0.0,
        # Spark 4.1 names; the timings are summed over tasks, in ms
        "stage.python_run_s": py("time to run Python workers") / 1000,
        "stage.python_start_s": py("time to start Python workers") / 1000,
        "stage.python_init_s": py("time to initialize Python workers") / 1000,
        "stage.bytes_to_python": py("data sent to Python workers"),
        "stage.bytes_from_python": py("data returned from Python workers"),
        "assemble.exchanges": sum(1 for s in stages if s["shuffle_write_records"]) / passes,
        "assemble.shuffle_bytes": total("shuffle_write_bytes"),
        "assemble.shuffle_records": total("shuffle_write_records"),
        "assemble.fetch_wait_ms": total("fetch_wait_ms"),
        "assemble.stage_s": sum(s["wall_ms"] for s in readers) / 1000 / passes,
        "jvm.gc_s": total("gc_ms") / 1000,
        "executor.cpu_s": total("cpu_ns") / 1e9,
    }


# --------------------------------------------------------------- replay


LAYERS = ("decode", "binarize", "lines", "cluster", "geometry", "ocr", "build", "plots")

# layer → the (module, name) pairs timed under it.  ``kernel.page`` names are
# the ones ``extract_objects`` calls; ``assemble_table`` and ``digitize_plot``
# it imports at call time, so they are wrapped where they are defined.
_TIMED = {
    "binarize": (("kernel.page", "grayzation"), ("kernel.page", "binarize")),
    "lines": (("kernel.page", "detect_segments"),),
    "cluster": (("kernel.page", "cluster_tables"),),
    "geometry": tuple(
        ("kernel.page", n)
        for n in ("intersect_lines", "snap_nodes", "dedup_grid_fixpoint", "cells_from_nodes")
    ),
    "build": (("kernel.assemble", "assemble_table"),),
    "plots": (("kernel.plots", "digitize_plot"),),
}


class LayerClock:
    """Context manager that times the decode stage's layers in this process.

    While it is open, the functions that ``operators.decode_detect.
    process_content_rows`` and ``kernel.page.extract_objects`` call are
    replaced by timing wrappers: ``media.iter_pages`` (each page's decode,
    under ``decode``), the kernel functions in ``_TIMED``, and the OCR
    function ``resolve_ocr`` returns (under ``ocr``).  The stage's own
    orchestration runs unchanged; ``seconds`` accumulates per layer, and
    ``decode_calls`` holds the decode seconds of each ``iter_pages`` call
    (one per blob row, in call order).
    """

    def __init__(self):
        self.seconds = dict.fromkeys(LAYERS, 0.0)
        self.decode_calls: list[float] = []
        self._saved: list[tuple[object, str, object]] = []

    def _timed(self, layer: str, fn):
        clock, seconds = time.perf_counter, self.seconds

        def wrapper(*args, **kwargs):
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                seconds[layer] += clock() - t0

        return wrapper

    def _patch(self, module, name: str, value) -> None:
        self._saved.append((module, name, getattr(module, name)))
        setattr(module, name, value)

    def __enter__(self) -> "LayerClock":
        import importlib

        pkg = "tableextraction_spark"
        for layer, names in _TIMED.items():
            for mod, name in names:
                module = importlib.import_module(f"{pkg}.{mod}")
                self._patch(module, name, self._timed(layer, getattr(module, name)))
        page = importlib.import_module(f"{pkg}.kernel.page")
        resolve = page.resolve_ocr
        self._patch(
            page, "resolve_ocr", lambda *a, **k: self._timed("ocr", resolve(*a, **k))
        )
        media = importlib.import_module(f"{pkg}.media")
        self._patch(media, "iter_pages", self._timed_pages(media.iter_pages))
        return self

    def _timed_pages(self, iter_pages):
        clock, seconds, calls = time.perf_counter, self.seconds, self.decode_calls

        def wrapper(payload):
            pages = iter_pages(payload)
            calls.append(0.0)
            while True:
                t0 = clock()
                try:
                    page = next(pages)
                except StopIteration:
                    return
                finally:
                    dt = clock() - t0
                    seconds["decode"] += dt
                    calls[-1] += dt
                yield page

        return wrapper

    def __exit__(self, *exc) -> None:
        while self._saved:
            module, name, value = self._saved.pop()
            setattr(module, name, value)


def replay_html(markup: str) -> tuple[float, int]:
    """(seconds, spans) of ``htmlx.extract_main_spans`` on one document."""
    from tableextraction_spark.htmlx import extract_main_spans

    t0 = time.perf_counter()
    spans = extract_main_spans(markup)
    return time.perf_counter() - t0, len(spans)
