"""Benchmark: one named workload, one seed, one JSON record.

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run has three parts: set-up (seeded
inputs, expected outputs computed in a separate DuckDB process, the Spark
session from ``session.get_spark`` on ``local[nproc]``, input
materialisation), one cold pass, then warm passes until ``--seconds`` have
passed (at least one). Every pass's output is checked. The last line of
stdout is the record; ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` turns on Spark's event log and reports the per-layer metrics.
Everything the run writes stays under ``.perfbench_work/`` and is removed
at the end. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "pdfplumber_golang_spark")

sys.path.insert(0, HERE)

from checks import attempt, check_extract, check_query  # noqa: E402
from workloads import LAYER, WORKLOADS, docs_read  # noqa: E402

#: driver heap: a quarter of host memory, at most 4 GiB (held every workload)
HEAP_SHARE, HEAP_MAX_MB = 0.25, 4096
#: payloads in the kernel timing sample of a traced run
KERNEL_SAMPLE = 300


def process_age() -> float:
    """Seconds since this process was created, both ends on the boot clock
    (the start time in /proc is in clock ticks since boot)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def host_heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return min(HEAP_MAX_MB, int(total_kb / 1024 * HEAP_SHARE))


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    ) / 2**20


class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.data = os.path.join(self.work, "data")
        self.spark = None
        self.jvm = None
        self.layer: dict[str, float] = {}
        self.gc_s = 0.0  # spent in the collections before operations

    # ------------------------------------------------------------ set-up --
    def configure(self) -> None:
        """Spark defaults owned by the benchmark: quiet console, every
        scratch file under the work area, event log only when tracing."""
        for d in ("conf", "data", "tmp", "local", "events"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        w, heap = self.work, host_heap_mb()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{w}/local",
            "spark.sql.warehouse.dir": f"{w}/warehouse",
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={w}/tmp -Dderby.system.home={w}",
            "spark.eventLog.enabled": "true" if self.args.trace else "false",
            "spark.eventLog.dir": f"file://{w}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        with open(f"{w}/conf/spark-defaults.conf", "w") as f:
            f.writelines(f"{k} {v}\n" for k, v in conf.items())
        with open(f"{w}/conf/log4j2.properties", "w") as f:
            f.write(
                "rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
            )
        os.environ.update(
            SPARK_CONF_DIR=f"{w}/conf",
            SPARK_GRAFT_DRIVER_MEM=f"{heap}m",
            TMPDIR=f"{w}/tmp",
        )
        os.chdir(w)  # spark-warehouse/, metastore_db/, derby.log land here

    def expected_outputs(self) -> dict:
        out = os.path.join(self.work, "expected.json")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), self.data,
             self.args.workload, out, str(self.cores)],
            check=True, timeout=150, stdout=subprocess.DEVNULL,
        )
        with open(out) as f:
            return json.load(f)

    def start_session(self) -> None:
        from pyspark import SparkContext

        from pdfplumber_golang_spark import session

        zip_path = os.path.join(self.work, "pdfplumber_golang_spark.zip")
        with zipfile.ZipFile(zip_path, "w") as z:
            for d, _, names in os.walk(PACKAGE):
                for n in sorted(names):
                    if n.endswith(".py"):
                        p = os.path.join(d, n)
                        z.write(p, os.path.relpath(p, ROOT))
        # ship the package from the work area instead of /tmp
        session.package_zip = lambda: zip_path
        self.spark = session.get_spark(app=f"perfbench-{self.args.workload}", cores=self.cores)
        self.jvm = SparkContext._gateway.proc

    def materialise(self) -> None:
        """The pages table (``sources.pagesgen.build_pages``) and, for the
        extraction workload, its seeded replicas."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pdfplumber_golang_spark.sources.pagesgen import build_pages

        pages_dir = os.path.join(self.data, "pages")
        build_pages(self.spark, self.data, parallelism=self.cores).write.parquet(pages_dir)
        self.serve_pages(pages_dir)
        if not self.wl.replicas:
            return
        table = pq.read_table(pages_dir, columns=["url", "html"])
        n, n_files = table.num_rows, self.wl.n_files
        sizes = pc.binary_length(table.column("html")).to_pylist()
        # every file takes one row of each run of n_files rows of similar
        # size, so files hold the same mix; the seed picks which row goes to
        # which file and the row order inside each file
        rng = random.Random(self.args.seed)
        by_size = sorted(range(n * self.wl.replicas), key=lambda i: sizes[i % n])
        files: list[list[int]] = [[] for _ in range(n_files)]
        for g in range(0, len(by_size), n_files):
            group = by_size[g:g + n_files]
            for k, i in zip(rng.sample(range(n_files), len(group)), group):
                files[k].append(i)
        out_dir = os.path.join(self.data, "replicas")
        os.makedirs(out_dir)
        for k, chunk in enumerate(files):
            rng.shuffle(chunk)
            part = table.take([i % n for i in chunk])
            urls = [f"{u}#r{i // n}" for u, i in zip(part.column("url").to_pylist(), chunk)]
            part = part.set_column(0, "url", pa.array(urls))
            pq.write_table(part, os.path.join(out_dir, f"part-{k:03d}.parquet"))

    def serve_pages(self, pages_dir: str) -> None:
        """Point ``load_or_build_pages`` at this run's pages table.

        It caches under a fixed path inside the source tree keyed only by
        the data directory's base name, so a cache left by another input of
        the same name is read back silently. The registry queries that call
        it (``pdf_words``, ``curation_c4_line_dedup``) keep their
        composition and read the benchmark's own table instead."""
        import __spark_entry__ as E

        from pdfplumber_golang_spark.sources import pagesgen

        def load_pages(spark, sf_dir: str):
            if os.path.abspath(sf_dir) != self.data:
                raise ValueError(f"no pages table for {sf_dir}")
            return spark.read.parquet(pages_dir)

        pagesgen.load_or_build_pages = E.load_or_build_pages = load_pages

    # ------------------------------------------------------------ passes --
    def operations(self, expected: dict) -> list[tuple[str, int, object]]:
        """(name, size, fn) per operation: fn() checks its output and returns
        (failed, ok) out of ``size`` operations attempted."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from pdfplumber_golang_spark import pipeline

        spark, ops = self.spark, []
        if self.wl.replicas:
            replicas = spark.read.parquet(os.path.join(self.data, "replicas"))

            def extract():
                obs = Observation()
                rows = pipeline.extract_pages(replicas, parallelism=self.cores).observe(
                    obs,
                    F.collect_list(
                        F.when(F.col("error").isNotNull(), F.col("url"))
                    ).alias("error_urls"),
                )
                out = pipeline.doc_text(rows).select("url", "text").toPandas()
                texts = dict(zip(out["url"], out["text"]))
                _, failed = check_extract(
                    texts, obs.get["error_urls"], expected["extract"], self.wl.replicas
                )
                return failed, failed == 0

            size, _ = check_extract({}, [], expected["extract"], self.wl.replicas)
            ops.append(("extract_text", size, extract))
        if self.wl.queries:
            import __spark_entry__ as E

            registry = E.queries()
            for name in self.wl.queries:

                def query(build=registry[name], name=name):
                    frame = build(spark, self.data).toPandas()
                    ok = check_query(frame, expected[name])
                    return int(not ok), ok

                ops.append((name, 1, query))
        return ops

    def run_pass(self, ops, index: int, log: list, sampler) -> tuple:
        """(wall, attempted, failed, correct, peak RSS bytes of the tree,
        the JVM and the Python workers). Every operation starts from a
        collected heap, so its peak RSS does not carry the heap G1 grew in
        set-up or in earlier operations; the collection is outside the
        operation's wall, and the pass wall is the sum of these."""
        sc = self.spark.sparkContext
        attempted = failed = 0
        correct, wall, peak = True, 0.0, (0, 0, 0)
        for name, size, fn in ops:
            t0 = time.perf_counter()
            sc._jvm.java.lang.System.gc()
            self.gc_s += time.perf_counter() - t0
            sampler.window()
            sc.setJobGroup(f"p{index}.{name}", name)
            t0 = time.time()
            f, ok, error = attempt(fn, size)
            wall += time.time() - t0
            peak = tuple(map(max, peak, sampler.window()))
            if error is not None:
                print(f"perfbench: {name} failed: {type(error).__name__}: {error}",
                      file=sys.stderr)
            log.append((index, name, t0 * 1000, time.time() * 1000))
            if not ok:
                print(f"perfbench: pass {index}: {name}: wrong output", file=sys.stderr)
            attempted, failed, correct = attempted + size, failed + f, correct and ok
        sc.setLocalProperty("spark.jobGroup.id", None)
        return wall, attempted, failed, correct, peak

    # ------------------------------------------------------------- trace --
    def trace_extras(self) -> None:
        """Layer timings outside the passes: the pages scan, the extraction
        stages to the noop sink, and the kernel stages in this process."""
        import pyarrow.parquet as pq

        from pdfplumber_golang_spark import pipeline

        import probe

        src = os.path.join(self.data, "replicas" if self.wl.replicas else "pages")
        pages = self.spark.read.parquet(src)
        sc = self.spark.sparkContext
        sc.setJobGroup("layer", "layer timings")

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        self.layer["sources.scan_s"] = noop(pages.select("url", "html"))
        self.layer["pipeline.extract_s"] = noop(
            pipeline.extract_pages(pages, parallelism=self.cores))
        self.layer["pipeline.doc_text_s"] = noop(
            pipeline.doc_text(pipeline.extract_pages(pages, parallelism=self.cores)))
        html = pq.read_table(os.path.join(self.data, "pages"), columns=["html"]).column(0)
        rng = random.Random(self.args.seed)
        sample = [html[i].as_py() for i in rng.sample(range(len(html)), min(KERNEL_SAMPLE, len(html)))]
        self.layer.update(probe.kernel_stages(sample))

    def layer_metrics(self, log: list, passes: list[float], peaks: list) -> dict[str, float]:
        import probe

        groups = probe.group_stats(probe.read_event_log(os.path.join(self.work, "events")))
        m = dict(self.layer)
        pass_level = {k: [] for k in ("jobs", "shuffle_mb", "skew", "python_in", "python_out", "python_ms")}
        per_op: dict[str, list[dict]] = {}
        for i, name, t0, t1 in log:
            if i == 0:
                continue
            g = groups[f"p{i}.{name}"]
            per_op.setdefault(name, []).append(probe.op_metrics(g, t0, t1) | {
                k: g[k] for k in ("python_in", "python_out", "python_ms")})
        for warm in range(len(passes) - 1):
            ops = [rows[warm] for rows in per_op.values()]
            pass_level["jobs"].append(sum(o["jobs"] for o in ops))
            pass_level["shuffle_mb"].append(sum(o["shuffle_mb"] for o in ops))
            pass_level["skew"].append(max(o["skew"] for o in ops))
            for k in ("python_in", "python_out", "python_ms"):
                pass_level[k].append(sum(o[k] for o in ops))
        med = {k: statistics.median(v) for k, v in pass_level.items()}
        m.update({
            "pipeline.jobs": med["jobs"],
            "pipeline.shuffle_mb": med["shuffle_mb"],
            "pipeline.skew": med["skew"],
            "pipeline.python_in_mb": med["python_in"] / 2**20,
            "pipeline.python_out_mb": med["python_out"] / 2**20,
            "pipeline.python_s": med["python_ms"] / 1000,
            "pipeline.worker_start_s": passes[0] - statistics.median(passes[1:]),
            "trace.warm_pass_s": statistics.median(passes[1:]),
            "mem.driver_rss_mb": min(peaks)[1] / 2**20,
            "mem.python_rss_mb": min(peaks)[2] / 2**20,
        })
        for name, layer in LAYER.items():
            rows = per_op.get(name)
            for k in ("s", "jobs", "stages", "shuffle_mb", "spill_mb", "skew", "gap_s"):
                m[f"{layer}.{name}.{k}"] = statistics.median(r[k] for r in rows) if rows else 0.0
        return m

    # -------------------------------------------------------------- main --
    def run(self) -> dict:
        import probe
        from inputs import write_documents

        self.configure()
        doc_ids = write_documents(os.path.join(self.data, "documents.parquet"),
                                  self.wl.n_docs, self.args.seed)
        t0 = time.time()
        expected = self.expected_outputs()
        t_oracle = time.time() - t0

        t0 = time.time()
        self.start_session()
        self.layer["session.start_s"] = time.time() - t0
        t0 = time.time()
        self.materialise()
        self.layer["sources.build_s"] = time.time() - t0
        setup_s = process_age() - t_oracle
        self.layer["sources.input_mb"] = dir_mb(self.data)

        ops = self.operations(expected)
        docs_per_pass = (
            self.wl.n_docs * self.wl.replicas
            + sum(docs_read(q, doc_ids) for q in self.wl.queries)
        )
        log: list = []
        passes: list[float] = []
        attempted = failed = 0
        correct = True
        peaks: list[tuple[int, int, int]] = []
        with probe.RssSampler(self.jvm.pid) as sampler:
            t_warm = None
            while t_warm is None or time.perf_counter() - t_warm < self.args.seconds:
                wall, a, f, ok, peak = self.run_pass(ops, len(passes), log, sampler)
                peaks.append(peak)
                passes.append(wall)
                attempted, failed, correct = attempted + a, failed + f, correct and ok
                if t_warm is None:
                    t_warm = time.perf_counter()
        if self.args.trace:
            self.trace_extras()
        self.stop()
        if self.args.trace:
            metrics = self.layer_metrics(log, passes, peaks)
        else:
            metrics = {
                "setup_s": setup_s,
                "first_pass_s": passes[0],
                "docs_per_s": docs_per_pass / statistics.median(passes[1:]),
                # the least of the per-pass peaks: what G1 keeps committed
                # after a pass varies by seed and inflates later passes
                "peak_rss_mb": min(peaks)[0] / 2**20,
            }
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        unit_of = {m["name"]: m["unit"] for key in ("end_to_end", "per_layer") for m in bench[key]}
        print(f"perfbench: {self.args.workload} seed {self.args.seed}: "
              f"{len(passes)} passes, walls {[round(p, 3) for p in passes]}, "
              f"set-up {setup_s:.1f} s, oracle {t_oracle:.1f} s, collections {self.gc_s:.1f} s, "
              "peak RSS MB per pass (tree, JVM, Python workers) "
              f"{[tuple(round(b / 2**20) for b in p) for p in peaks]}", file=sys.stderr)
        for i, name, t0, t1 in log:
            print(f"perfbench: pass {i} {name} {(t1 - t0) / 1000:.3f} s", file=sys.stderr)
        return {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in sorted(metrics.items())},
        }

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait for every process this run
        started to end."""
        import probe

        if self.spark is None:
            return
        from pyspark import SparkContext

        left = probe.descendants(os.getpid())
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if self.jvm is not None:
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
        deadline = time.time() + 30
        while any(os.path.exists(f"/proc/{p}") for p in left) and time.time() < deadline:
            time.sleep(0.1)
        for p in left:
            try:
                os.kill(p, 9)
            except OSError:
                pass  # already ended
        self.spark = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(PACKAGE, "session.py")):
        print(f"perfbench: no program to measure at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        record = run.run()
    finally:
        run.stop()
        os.chdir(ROOT)
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass  # another run's work area is still there
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
