"""Measurement from outside the program: process-tree RSS, Spark's event
log, and kernel stages timed by calling the kernel's public functions."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def children(pid: int) -> list[int]:
    out: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass  # thread or process ended while being read
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(children(p))
    return seen


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples, every ``period`` seconds, the summed RSS of this process and
    its descendants, the JVM's RSS and the summed RSS of the JVM's children
    (the Python workers); keeps the peak of each over a window that
    ``window()`` closes."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid, self.period = jvm_pid, period
        self._peak = (0, 0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        jvm = rss_bytes(self.jvm_pid)
        python = sum(rss_bytes(p) for p in descendants(self.jvm_pid))
        tree = sum(rss_bytes(p) for p in [os.getpid(), *descendants(os.getpid())])
        with self._lock:
            self._peak = tuple(map(max, self._peak, (tree, jvm, python)))

    def window(self) -> tuple[int, int, int]:
        """Peak bytes (process tree, JVM, Python workers) since the last
        call; the next window starts now."""
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, (0, 0, 0)
        return peak

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ----------------------------------------------------------- event log ---

_PY_METRICS = {
    "data sent to Python workers": "python_in",
    "data returned from Python workers": "python_out",
    "time to run Python workers": "python_ms",
}


def read_event_log(events_dir: str) -> list[dict]:
    paths = [p for p in glob.glob(os.path.join(events_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {paths}")
    with open(paths[0]) as f:
        return [json.loads(line) for line in f]


def group_stats(events: list[dict]) -> dict[str, dict]:
    """Per job group: job intervals (ms), stage count, shuffle and spill
    bytes, Python-worker bytes and time, and the task times of its longest
    stage."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list[int]] = {}
    stage_span: dict[int, tuple[int, int]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is None:
                continue
            g = groups.setdefault(
                gid,
                {"jobs": [], "stages": set(), "shuffle": 0, "spill": 0,
                 "python_in": 0, "python_out": 0, "python_ms": 0},
            )
            job = {"start": e["Submission Time"], "end": None}
            jobs[e["Job ID"]] = job
            g["jobs"].append(job)
            for sid in e["Stage IDs"]:
                stage_group[sid] = gid
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_group and "Submission Time" in info:
                groups[stage_group[sid]]["stages"].add(sid)
                stage_span[sid] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
            g = groups[stage_group[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            g["shuffle"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill"] += m.get("Disk Bytes Spilled", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key:
                    g[key] += int(acc.get("Update", 0))
            info = e["Task Info"]
            stage_tasks.setdefault(e["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"]
            )
    for gid, g in groups.items():
        spans = {s: stage_span[s] for s in g["stages"]}
        longest = max(spans, key=lambda s: spans[s][1] - spans[s][0], default=None)
        tasks = stage_tasks.get(longest, [])
        med = statistics.median(tasks) if tasks else 0
        g["skew"] = max(tasks) / med if med else 1.0
    return groups


def op_metrics(group: dict, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Seven metrics of one operation (one job group) over its wall
    interval: time, jobs, stages, shuffle and spill MB, task skew of its
    longest stage, and the time no job of it was running."""
    spans = sorted(
        (max(j["start"], t0_ms), min(j["end"] or t1_ms, t1_ms)) for j in group["jobs"]
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            busy += (cur_e - cur_s) if cur_e is not None else 0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    busy += (cur_e - cur_s) if cur_e is not None else 0
    return {
        "s": (t1_ms - t0_ms) / 1000,
        "jobs": len(group["jobs"]),
        "stages": len(group["stages"]),
        "shuffle_mb": group["shuffle"] / 2**20,
        "spill_mb": group["spill"] / 2**20,
        "skew": group["skew"],
        "gap_s": max(0.0, (t1_ms - t0_ms) - busy) / 1000,
    }


# -------------------------------------------------------------- kernel ---

def kernel_stages(payloads: list[bytes]) -> dict[str, float]:
    """Per-document microseconds of each kernel stage over ``payloads``,
    timed in this process by calling the kernel's public functions."""
    from pdfplumber_golang_spark.kernel import extract, html_extract, layout, tables
    from pdfplumber_golang_spark.kernel.content import Interpreter
    from pdfplumber_golang_spark.kernel.pdfparse import PDFDocument

    t = {k: 0.0 for k in ("document", "html", "parse", "fonts", "content", "layout", "tables")}
    n_html = n_pdf = n_chars = 0
    clock = time.perf_counter
    for i, raw in enumerate(payloads):
        url = f"https://sample.example/{i}"
        t0 = clock()
        extract.extract_document(url, raw)
        t["document"] += clock() - t0
        if raw[:5] != b"%PDF-":
            n_html += 1
            t0 = clock()
            html_extract.extract_html_text(raw)
            t["html"] += clock() - t0
            continue
        try:
            t0 = clock()
            doc = PDFDocument(raw)
            pages = doc.pages
            t["parse"] += clock() - t0
            for page in pages:
                res = page.resources if isinstance(page.resources, dict) else {}
                t0 = clock()
                fonts = extract.load_fonts(doc, res)
                t["fonts"] += clock() - t0
                interp = Interpreter(fonts, extract.load_xobjects(doc, res))
                t0 = clock()
                interp.run(b"\n".join(page.contents))
                t["content"] += clock() - t0
                t0 = clock()
                layout.organize_text(interp.chars)
                t["layout"] += clock() - t0
                t0 = clock()
                tables.extract_tables(interp.chars, interp.edges, interp.rects)
                t["tables"] += clock() - t0
                n_chars += len(interp.chars)
        except Exception:  # noqa: BLE001 — malformed payloads end here, as in the kernel
            pass
        n_pdf += 1
    per = {"document": len(payloads), "html": n_html}
    out = {
        f"kernel.{k}_us": 1e6 * v / max(1, per.get(k, n_pdf)) for k, v in t.items()
    }
    out["kernel.chars_per_doc"] = n_chars / max(1, n_pdf)
    return out
