#!/usr/bin/env python3
"""Extraction benchmark: end-to-end metrics, oracle checks, per-layer trace.

Run from the repository root::

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics (``wall_s``, ``docs_per_s``,
``setup_s``) with no tracing.  ``--trace 1`` is a separate run that reports
the per-layer metrics: the session split, peak memory, the Spark-layer
split read from a local event log, the kernel stages of an in-process pass,
the checkpoint bookkeeping and the board operators, plus the tracing
overhead.  Every number is taken from this file and its siblings by timing
(or, for the kernel's calls in the Python workers, counting) calls into the
package's public functions; the package is not edited.

A run sets up the session twice from cold -- each set-up launches a fresh
JVM, builds the session and runs the first tiny job -- and reports the
median as ``setup_s``; it runs the workload once to warm up, then
repeats it for ``--seconds`` and reports medians.  Every document
of every ``mixed`` repetition, and every board query's rows (once, in the
warm-up), are compared with the workload's oracle; ``failed`` counts
operations (documents, or board queries) whose output is missing or wrong.
The last line of standard output is the result object; the lines before it
list every metric with its unit, and the run's provenance.

Further options: ``--cores N`` runs at ``local[N]`` (default 4),
``--docs N`` overrides the workload's input size, and ``--out FILE`` writes
the result with its provenance to ``FILE``.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {  # name -> unit
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "setup_s": "s",
}
PER_LAYER = {  # name -> (unit, better)
    "session.get_spark_s": ("s", "lower"),
    "session.first_job_s": ("s", "lower"),
    # the JVM's heap grows with its GC's timing, so this is too
    # unsteady run to run for an end-to-end bound
    "memory.peak_rss_mb": ("MB", "lower"),
    "pipeline.jobs": ("count", "lower"),
    "pipeline.scan_explode_s": ("s", "lower"),
    "pipeline.exchange_bytes": ("bytes", "lower"),
    "pipeline.udf_stage_s": ("s", "lower"),
    "pipeline.python_boot_s": ("s", "lower"),
    "pipeline.python_init_s": ("s", "lower"),
    "pipeline.python_total_s": ("s", "lower"),
    "pipeline.arrow_sent_bytes": ("bytes", "lower"),
    "pipeline.arrow_received_bytes": ("bytes", "lower"),
    "pipeline.udf_task_skew": ("ratio", "lower"),
    "pipeline.reassembly_s": ("s", "lower"),
    "pipeline.reassembly_bytes": ("bytes", "lower"),
    "pipeline.spill_bytes": ("bytes", "lower"),
    "pipeline.gc_s": ("s", "lower"),
    "pipeline.core_busy_frac": ("ratio", "higher"),
    "pipeline.residual_s": ("s", "lower"),
    "pipeline.kernel_calls": ("count", "lower"),
    "pipeline.media_useful_frac": ("ratio", "higher"),
    "core.render_ms": ("ms", "lower"),
    "core.seal_gray_ms": ("ms", "lower"),
    "core.binarize_ms": ("ms", "lower"),
    "core.unit_scale_ms": ("ms", "lower"),
    "core.detect_lines_ms": ("ms", "lower"),
    "core.probe_rec_ms": ("ms", "lower"),
    "core.full_rec_ms": ("ms", "lower"),
    "core.reading_order_ms": ("ms", "lower"),
    "core.deskew_ms": ("ms", "lower"),
    "core.kernel_ms": ("ms", "lower"),
    "core.residual_ms": ("ms", "lower"),
    "core.pages": ("count", "higher"),
    "core.boxes_per_page": ("count", "lower"),
    "core.probes_per_page": ("count", "lower"),
    "core.full_passes_per_page": ("count", "lower"),
    "core.full_pass_useful_frac": ("ratio", "higher"),
    "core.deskew_page_frac": ("ratio", "lower"),
    "checkpoint.jobs": ("count", "lower"),
    "checkpoint.write_s": ("s", "lower"),
    "checkpoint.bookkeeping_s": ("s", "lower"),
    "checkpoint.resume_scan_s": ("s", "lower"),
    "checkpoint.overhead_frac": ("ratio", "lower"),
    "checkpoint.lineage_rate_ratio": ("ratio", "lower"),
    "board.lsh_near_dup_s": ("s", "lower"),
    "board.near_dup_clusters_s": ("s", "lower"),
    "board.knn_graph_s": ("s", "lower"),
    "board.semdedup_prune_s": ("s", "lower"),
    "board.single_partition_exchanges": ("count", "lower"),
    "board.shuffle_bytes": ("bytes", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}
# cold session set-ups per run; setup_s is their median.  Each costs ~11 s
# on 4 vCPUs, and a third would put the benchmark's full series of runs
# over its time budget.
SETUPS = 2
SPARK_CONF_RECORDED = (
    "spark.master",
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)
KERNEL_SAMPLE = 160  # media refs in the traced in-process kernel pass


# ---------------------------------------------------------------------------
# environment and session
# ---------------------------------------------------------------------------


def _prepare_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory, and give Python workers the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell"
    )


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _identity(batches):
    yield from batches


def _setup(cores: int):
    """get_spark (which launches the JVM when none is running) plus the
    first tiny job, which forks the Python workers (each running the
    ``ocr_spark.daemon`` preload)."""
    from ocr_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cores, app_name="perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(4 * cores, numPartitions=cores).mapInPandas(
        _identity, "id long"
    ).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return  # already shut down
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Peak resident memory of this process's descendants (the Spark JVM
    and its Python workers), sampled from /proc, per rep."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self.rep_peaks: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def end_rep(self) -> None:
        """Close a rep: record its peak and start the next one."""
        self.rep_peaks.append(max(self.peak_bytes, self._tree_rss()))
        self.peak_bytes = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Mixed:
    """The flagship corpus through the default ``extract_documents``,
    committed as parquet; every output document is checked against the
    oracle.  Its traced run also measures the checkpoint layer: one
    ``run_checkpointed`` pass over the same docs, stopped after half its
    chunks and resumed."""

    n_chunks = 16

    def __init__(self, size: int):
        self.size = size

    def prepare(self, work: str, seed: int) -> None:
        import workloads

        self.work = work
        self.docs = workloads.mixed_docs(self.size, seed)
        self.input = workloads.write_docs(self.docs, os.path.join(work, "input.parquet"))
        self.oracle = workloads.CorpusOracle(self.docs)
        self.n_docs = len(self.docs)
        self.media = workloads.media_refs(self.docs)

    def rep(self, spark, i: int) -> float:
        from ocr_spark.operators.pipeline import extract_documents

        t0 = time.perf_counter()
        df = spark.read.parquet(self.input)
        extract_documents(df).write.mode("overwrite").parquet(os.path.join(self.work, f"out{i}"))
        return time.perf_counter() - t0

    def warm_up(self, spark) -> tuple[int, int]:
        self.rep(spark, 0)
        return self.check(0)

    def check(self, i: int) -> tuple[int, int]:
        import pyarrow.parquet as pq

        out = os.path.join(self.work, f"out{i}")
        rows = pq.read_table(out).to_pylist()
        shutil.rmtree(out, ignore_errors=True)
        return self.n_docs, self.oracle.count_failed(rows)

    def trace_extras(self, spark, walls: list[float], kernel_calls: float):
        """Layer metrics that need the live session (after the traced reps),
        and the (attempted, failed) operations of the checkpointed pass.
        ``kernel_calls`` is the media rows sent to the kernel per traced rep,
        counted in the Python workers."""
        metrics, ops = self._checkpoint_pass(spark, statistics.median(walls))
        metrics["pipeline.kernel_calls"] = kernel_calls
        if kernel_calls:
            metrics["pipeline.media_useful_frac"] = self.oracle.useful_media / kernel_calls
        else:
            _log("no ocr_media_ref calls counted; pipeline.media_useful_frac is 0")
        return metrics, ops

    def _checkpoint_pass(self, spark, plain_wall: float):
        """Checkpoint bookkeeping against the plain extract+write wall of the
        same docs.  ``completed_chunks`` is timed by wrapping it from here;
        the write jobs are read from the event log (``log_metrics``)."""
        import pyarrow.parquet as pq
        from ocr_spark.operators import checkpoint

        scans: list[float] = []
        real = checkpoint.completed_chunks

        def timed_completed_chunks(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return real(*args, **kwargs)
            finally:
                scans.append(time.perf_counter() - t0)

        out = os.path.join(self.work, "checkpointed")
        spark.sparkContext.setJobGroup("ckpt", "checkpointed pass")
        checkpoint.completed_chunks = timed_completed_chunks
        try:
            t0 = time.perf_counter()
            df = spark.read.parquet(self.input)
            first = checkpoint.run_checkpointed(
                df, out, n_chunks=self.n_chunks, max_chunks=self.n_chunks // 2
            )
            second = checkpoint.run_checkpointed(df, out, n_chunks=self.n_chunks)
            wall = time.perf_counter() - t0
        finally:
            checkpoint.completed_chunks = real
        rows = pq.read_table(os.path.join(out, "data")).to_pylist()
        lineage = pq.read_table(os.path.join(out, "_lineage")).to_pylist()
        shutil.rmtree(out, ignore_errors=True)
        failed = self.oracle.count_failed(rows)
        if (
            (first["ran"], second["skipped"], second["remaining"])
            != (self.n_chunks // 2, self.n_chunks // 2, 0)
            or sorted(r["partition_id"] for r in lineage) != list(range(self.n_chunks))
            or sum(r["doc_count"] for r in lineage) != len(rows)
        ):
            failed = self.n_docs  # the manifest cannot vouch for any document
        self.ckpt_wall = wall
        claimed = statistics.mean(r["throughput_docs_per_s"] for r in lineage)
        return {
            "checkpoint.resume_scan_s": scans[-1],
            "checkpoint.overhead_frac": 1.0 - plain_wall / wall,
            "checkpoint.lineage_rate_ratio": claimed / (self.n_docs / wall),
        }, (self.n_docs, failed)

    def log_metrics(self, log, walls: list[float], cores: int) -> dict[str, float]:
        split = [log.pipeline(f"rep:{i}", w, cores) for i, w in enumerate(walls, 1)]
        write_s = log.write_s("ckpt", runs="MapInPandas")
        return {
            **{k: statistics.median(s[k] for s in split) for k in split[0]},
            "checkpoint.jobs": log.n_jobs("ckpt"),
            "checkpoint.write_s": write_s,
            "checkpoint.bookkeeping_s": self.ckpt_wall - write_s,
        }


class BoardSlice:
    """The dedup/similarity board queries over seeded documents and
    embeddings tables.  The warm-up collects each query and compares it
    with its DuckDB oracle; timed reps run to a noop sink."""

    def __init__(self, size: int, n_vecs: int):
        self.size = size
        self.n_vecs = n_vecs
        self.media = []

    def prepare(self, work: str, seed: int) -> None:
        import workloads

        self.sf_dir = workloads.write_board_tables(
            os.path.join(work, "sf"), self.size, self.n_vecs, seed
        )
        self.expected = workloads.board_oracle(self.sf_dir)
        summary = workloads.oracle_summary(self.expected)
        _log(f"board oracle: {summary}")
        if not all(summary.values()):
            # an empty oracle would make the comparison vacuous
            raise RuntimeError(f"board tables give an empty oracle: {summary}")
        # each query reads one table once: two over documents, two over embeddings
        self.n_docs = 2 * self.size + 2 * self.n_vecs
        self.query_s: dict[str, list[float]] = {q: [] for q in self.expected}

    def _queries(self, spark):
        import __spark_entry__ as entry

        registry = entry.queries()
        return [(q, registry[q](spark, self.sf_dir)) for q in self.expected]

    def warm_up(self, spark) -> tuple[int, int]:
        """Collect each query and compare it with its oracle."""
        import workloads

        failed = 0
        for q, df in self._queries(spark):
            cols, rows = self.expected[q]
            got = [tuple(r) for r in df.collect()]
            if sorted(df.columns) != sorted(cols) or workloads.frame_key(
                got, df.columns
            ) != workloads.frame_key(rows, cols):
                print(f"board query {q}: output differs from its oracle", file=sys.stderr)
                failed += 1
        return len(self.expected), failed

    def _noop_pass(self, spark) -> dict[str, float]:
        import __spark_entry__ as entry

        registry = entry.queries()
        times = {}
        for q in self.expected:
            t0 = time.perf_counter()
            registry[q](spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            times[q] = time.perf_counter() - t0
        return times

    def rep(self, spark, i: int) -> float:
        times = self._noop_pass(spark)
        for q, dt in times.items():
            self.query_s[q].append(dt)
        return sum(times.values())

    def check(self, i: int) -> tuple[int, int]:
        return 0, 0  # a noop sink returns nothing to check; warm_up checked

    def trace_extras(self, spark, walls: list[float], kernel_calls: float):
        plans = [
            df._jdf.queryExecution().executedPlan().toString()
            for _q, df in self._queries(spark)
        ]
        # the traced reps are the last len(walls) of each query's times
        out = {f"board.{q}_s": statistics.median(v[-len(walls):]) for q, v in self.query_s.items()}
        out["board.single_partition_exchanges"] = sum(
            p.count("Exchange SinglePartition") for p in plans
        )
        return out, (0, 0)

    def log_metrics(self, log, walls: list[float], cores: int) -> dict[str, float]:
        return {
            "board.shuffle_bytes": statistics.median(
                log.shuffle_bytes(f"rep:{i}") for i in range(1, len(walls) + 1)
            )
        }


def _workloads() -> dict:
    # board_slice: sf0.1's shape at a fifth of its size (5000 docs, 2000 vectors)
    return {"mixed": Mixed(160), "board_slice": BoardSlice(1000, 400)}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _timed_reps(
    spark, wl, seconds: float, group: str | None, rss: RssSampler | None = None
) -> tuple[list[float], int, int]:
    """Repeat the workload for ``seconds`` (reps 1, 2, ..., job group
    ``<group>:<rep>``); returns the walls and the (attempted, failed)
    operation counts of the checked reps."""
    sc = spark.sparkContext
    walls: list[float] = []
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        i = len(walls) + 1
        if group:
            sc.setJobGroup(f"{group}:{i}", "benchmark rep")
        walls.append(wl.rep(spark, i))
        if rss is not None:
            rss.end_rep()
        a, f = wl.check(i)
        attempted, failed = attempted + a, failed + f
    return walls, attempted, failed


def provenance(args, spark_conf: dict) -> dict:
    def git(*cmd: str) -> str | None:
        try:
            return subprocess.run(
                ["git", *cmd], cwd=ROOT, capture_output=True, text=True, timeout=10, check=True
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return None

    versions = {}
    for pkg in ("pyspark", "pandas", "pyarrow", "numpy", "duckdb"):
        try:
            versions[pkg] = metadata.version(pkg)
        except metadata.PackageNotFoundError:
            versions[pkg] = None
    sha = git("rev-parse", "HEAD")
    status = git("status", "--porcelain") if sha else None
    return {
        "git_sha": sha,
        "git_dirty": bool(status) if status is not None else None,
        "date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "nproc": os.cpu_count(),
        "cores": args.cores,
        "python": sys.version.split()[0],
        "versions": versions,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_conf": spark_conf,
    }


def run(args) -> dict:
    wl = _workloads()[args.workload]
    if args.docs:
        wl.size = args.docs
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _prepare_env(work)
        t0 = time.perf_counter()
        wl.prepare(work, args.seed)
        _log(f"prepared inputs and oracle in {time.perf_counter() - t0:.1f}s")
        return _measure(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def _measure(args, wl, work: str) -> dict:
    """Set up ``SETUPS`` times from cold (each set-up launches a fresh JVM),
    warm up with one checked rep, then time reps."""
    setups = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                _shutdown(spark)
            spark, get_s, job_s = _setup(args.cores)
            setups.append((get_s, job_s))
        _log("set-ups (get_spark s, first job s): "
             + ", ".join(f"({g:.2f}, {j:.2f})" for g, j in setups))
        spark_conf = {k: spark.conf.get(k) for k in SPARK_CONF_RECORDED}
        t0 = time.perf_counter()
        attempted, failed = wl.warm_up(spark)
        _log(f"warm-up in {time.perf_counter() - t0:.1f}s")
        if args.trace:
            metrics, a, f, walls = _trace(args, wl, work, spark, setups)
        else:
            walls, a, f = _timed_reps(spark, wl, args.seconds, None)
            wall = statistics.median(walls)
            metrics = {
                "wall_s": wall,
                "docs_per_s": wl.n_docs / wall,
                "setup_s": statistics.median(g + j for g, j in setups),
            }
    finally:
        if spark is not None:
            _shutdown(spark)
    return {
        "correct": failed + f == 0,
        "attempted": attempted + a,
        "failed": failed + f,
        "metrics": metrics,
        "reps": walls,
        "spark_conf": spark_conf,
    }


def _trace(args, wl, work: str, spark, setups):
    """Untraced reps; then the same reps traced, in a session that turns on
    the event log and the workers' kernel-call counter; then the layer
    passes.  Each of the two sets of reps runs in a fresh session of the
    same JVM (not counted as set-up) after one checked warm-up rep, so
    that ``trace.overhead_frac`` compares like with like.  The event log
    is read after the session stops."""
    import spark_trace
    from kernel_trace import kernel_trace

    half = args.seconds / 2
    attempted = failed = 0

    def restart(spark):
        nonlocal attempted, failed
        spark.stop()
        spark, _g, _j = _setup(args.cores)
        a, f = wl.warm_up(spark)
        attempted, failed = attempted + a, failed + f
        return spark

    log_dir = os.path.join(work, "eventlog")
    counter = os.path.join(work, "kernel_calls")
    try:
        spark = restart(spark)
        with RssSampler() as rss:
            plain_walls, a, f = _timed_reps(spark, wl, half, None, rss)
        attempted, failed = attempted + a, failed + f
        spark_trace.enable_event_log(spark, log_dir)
        spark_trace.count_kernel_calls(spark, counter)
        spark = restart(spark)
        calls = spark_trace.kernel_calls(counter)
        walls, a, f = _timed_reps(spark, wl, half, "rep")
        attempted, failed = attempted + a, failed + f
        calls = (spark_trace.kernel_calls(counter) - calls) / len(walls)
        extras, (a, f) = wl.trace_extras(spark, walls, calls)
        attempted, failed = attempted + a, failed + f
    finally:
        _shutdown(spark)
    metrics = {name: 0.0 for name in PER_LAYER}  # 0: the layer did no work here
    metrics.update(
        {
            "session.get_spark_s": statistics.median(g for g, _ in setups),
            "session.first_job_s": statistics.median(j for _, j in setups),
            "memory.peak_rss_mb": statistics.median(rss.rep_peaks) / 2**20,
            "trace.overhead_frac": statistics.median(walls) / statistics.median(plain_walls) - 1.0,
        }
    )
    metrics.update(wl.log_metrics(spark_trace.JobGroups(log_dir), walls, args.cores))
    metrics.update(extras)
    if wl.media:
        step = max(1, len(wl.media) // KERNEL_SAMPLE)
        metrics.update(kernel_trace(wl.media[::step][:KERNEL_SAMPLE]))
    return {k: v for k, v in metrics.items() if k in PER_LAYER}, attempted, failed, walls


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--docs", type=int, default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py")):
        print(f"perfbench: no ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in _workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # a crash fails every operation: report, print no result
        traceback.print_exc()
        print("perfbench: run crashed; failed_frac 1.0", file=sys.stderr)
        return 1
    units = {k: u for k, (u, _b) in PER_LAYER.items()} if args.trace else END_TO_END
    reps = result.pop("reps")
    prov = provenance(args, result.pop("spark_conf"))
    for name, value in result["metrics"].items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"failed_frac {result['failed'] / result['attempted']:.6g} ratio "
          f"({result['failed']} of {result['attempted']} operations)")
    print("rep_walls_s " + " ".join(f"{w:.3f}" for w in reps))
    print("provenance " + json.dumps(prov, sort_keys=True))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({**result, "reps": reps, "provenance": prov}, fh, indent=1, sort_keys=True)
    result["metrics"] = {
        name: {"value": value, "unit": units[name]} for name, value in result["metrics"].items()
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
