"""Self-tests of the benchmark at tiny sizes.

    python3 -m pytest perfbench -q

The last two tests start Spark through ``run.py`` and take about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import kernel_trace  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_every_metric_the_run_prints():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run._workloads())


def test_corpus_generator_is_seeded():
    assert workloads.mixed_docs(12, 3) == workloads.mixed_docs(12, 3)
    assert workloads.mixed_docs(12, 3) != workloads.mixed_docs(12, 4)


def test_mixed_at_seed_42_is_the_flagship_corpus():
    from ocr_spark.fixtures.corpus import build_corpus

    flagship = build_corpus(30, seed=42)
    docs = workloads.mixed_docs(30, 42)
    assert [d["doc_id"] for d in docs] == flagship["doc_id"].to_pylist()
    assert [d["spans"] for d in docs] == flagship["spans"].to_pylist()


def test_board_tables_are_seeded(tmp_path):
    def tables(seed, sub):
        d = workloads.write_board_tables(str(tmp_path / sub), 40, 20, seed)
        return [pq.read_table(os.path.join(d, f"{t}.parquet")).to_pylist()
                for t in ("documents", "embeddings")]

    assert tables(5, "a") == tables(5, "b")
    assert tables(5, "a") != tables(6, "c")


def test_board_tables_have_the_measured_shape_and_nonempty_oracles(tmp_path):
    d = workloads.write_board_tables(str(tmp_path), 400, 200, 3)
    shape = workloads.table_shape(d)
    assert shape["dup_suffixed_docs"] == 400 // 20
    assert shape["vocabulary"] == len(workloads._BOARD_WORDS) + 1  # and "dup"
    assert 10 <= shape["words_min_mean_max"][0] and shape["words_min_mean_max"][2] <= 103
    assert (shape["dim"], shape["labels"], shape["sources"]) == (64, 10, 20)
    assert abs(shape["own_label_centroid_cos_median"]) < 0.1  # no cluster structure
    assert all(workloads.oracle_summary(workloads.board_oracle(d)).values())


def _oracle_and_output():
    docs = workloads.mixed_docs(12, 7)
    oracle = workloads.CorpusOracle(docs)
    out = []
    for d in docs:
        spans, ok = oracle.expected[d["doc_id"]]
        out.append({
            "doc_id": d["doc_id"],
            "spans": [dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in spans],
            "success": ok,
        })
    return oracle, out


def test_oracle_counts_a_planted_wrong_span_and_a_dropped_document():
    oracle, out = _oracle_and_output()
    assert oracle.count_failed(out) == 0
    wrong = [dict(r, spans=[dict(s) for s in r["spans"]]) for r in out]
    wrong[0]["spans"][0]["text"] += "x"
    assert oracle.count_failed(wrong) == 1
    assert oracle.count_failed(out[1:]) == 1
    flipped = [dict(r) for r in out]
    flipped[2]["success"] = not flipped[2]["success"]
    assert oracle.count_failed(flipped) == 1


def test_kernel_stages_add_up_to_the_kernel_time():
    refs = workloads.media_refs(workloads.mixed_docs(6, 1))[:12]
    m = kernel_trace.kernel_trace(refs)
    stages = sum(m[f"core.{s}_ms"] for s in kernel_trace.STAGES)
    assert m["core.kernel_ms"] > 0
    assert stages + m["core.residual_ms"] == pytest.approx(m["core.kernel_ms"])
    assert m["core.pages"] >= len([r for r in refs if "#err" not in r])


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mixed", "--seed", "1",
         "--seconds", "0", "--docs", "6", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = _run("--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_prints_every_metric_with_its_unit(trace):
    p = _run("--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 6
    spec = _bench()["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for m in spec:
        assert any(line.startswith(f"{m['name']} ") and line.endswith(f" {m['unit']}")
                   for line in lines[:-1])
    if trace == "1":  # measured from the run: the worker counter, the event log
        metrics = result["metrics"]
        assert 0 < metrics["pipeline.media_useful_frac"]["value"] <= 1
        assert metrics["checkpoint.write_s"]["value"] > 0
        assert metrics["checkpoint.bookkeeping_s"]["value"] > 0
