#!/usr/bin/env python3
"""Compare the board_slice tables with a board sf directory.

    python3 perfbench/board_shape.py SF_DIR [--seeds 1 2 3] [--time] [--out FILE]

Prints (and with ``--out`` writes) the measured shape of the
documents/embeddings tables in ``SF_DIR`` and of the tables the benchmark
generates at each seed, at the benchmark's size and at ``SF_DIR``'s size,
each with its board oracles' row counts.  ``--time`` also runs the four
board queries to a noop sink at ``local[4]``, three times each on
``SF_DIR``'s tables and on the first seed's tables of the same size, and
records the median seconds per query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import shutil
import statistics
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
import workloads  # noqa: E402


def describe(sf_dir: str) -> dict:
    return {
        "shape": workloads.table_shape(sf_dir),
        "oracle": workloads.oracle_summary(workloads.board_oracle(sf_dir)),
    }


def query_seconds(spark, sf_dir: str, reps: int = 3) -> dict[str, float]:
    import __spark_entry__ as entry

    registry = entry.queries()
    times: dict[str, list[float]] = {q: [] for q in workloads.BOARD_QUERIES}
    for _ in range(reps):
        for q in workloads.BOARD_QUERIES:
            t0 = time.perf_counter()
            registry[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[q].append(time.perf_counter() - t0)
    return {q: round(statistics.median(v), 3) for q, v in times.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()

    board = run._workloads()["board_slice"]
    ref = describe(args.sf_dir)
    sizes = {
        "benchmark": (board.size, board.n_vecs),
        "reference": (ref["shape"]["documents"], ref["shape"]["vectors"]),
    }
    out = {"reference": {"sf_dir": os.path.basename(os.path.normpath(args.sf_dir)), **ref}}
    with tempfile.TemporaryDirectory() as tmp:
        for label, (n_docs, n_vecs) in sizes.items():
            for seed in args.seeds:
                d = workloads.write_board_tables(
                    os.path.join(tmp, f"{label}{seed}"), n_docs, n_vecs, seed
                )
                out[f"generated_{label}_size_seed{seed}"] = describe(d)
        if args.time:
            work = os.path.join(tmp, "work")
            run._prepare_env(work)
            os.environ["PYTHONPATH"] += os.pathsep + HERE  # workers unpickle run._identity
            spark, _g, _j = run._setup(4)
            try:
                query_seconds(spark, args.sf_dir, reps=1)  # JIT warm-up
                out["noop_seconds_local4"] = {
                    "reference": query_seconds(spark, args.sf_dir),
                    f"generated_reference_size_seed{args.seeds[0]}": query_seconds(
                        spark, os.path.join(tmp, f"reference{args.seeds[0]}")
                    ),
                }
            finally:
                run._shutdown(spark)
                shutil.rmtree(work, ignore_errors=True)
    text = json.dumps(out, indent=1, sort_keys=True)
    print(text)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")


if __name__ == "__main__":
    main()
