"""The benchmark's own tests; they need neither Spark nor a JVM.

    python3 -m pytest enginebench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from enginebench import checks, inputs, metrics  # noqa: E402
from enginebench.run import check  # noqa: E402


def _client(digests: dict) -> dict:
    ops = [{"name": n, "latency_s": 0.1, "error": None, "digest": d} for n, d in digests.items()]
    return {"passes": [{"kind": "cold", "wall_s": 0.2, "ops": ops, "written_bytes": 0}]}


def test_wrong_result_is_counted_as_failed():
    right = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    wrong = right.assign(v=[0.5, 1.5, 2.75])  # one value off
    expected = {"q": checks.digest(right), "commit": {"value": 8}}
    ok = check(_client({"q": checks.digest(right), "commit": {"value": 8}}), expected)
    assert ok == (2, 0, [])
    attempted, failed, problems = check(_client({"q": checks.digest(wrong), "commit": {"value": 9}}), expected)
    assert (attempted, failed) == (2, 2)
    assert all("wrong result" in p for p in problems)


def test_errored_operation_is_counted_as_failed():
    client = _client({"q": None})
    client["passes"][0]["ops"][0]["error"] = "AnalysisException: boom"
    assert check(client, {"q": {"rows": 1}})[:2] == (1, 1)


def test_approximate_pairs_must_be_true_pairs_with_enough_recall():
    truth = pd.DataFrame({"doc_a": list(range(40)), "doc_b": list(range(100, 140)), "jaccard": [0.9] * 40})
    want = json.loads(json.dumps(checks.pair_digest(truth)))
    lost_one = json.loads(json.dumps(checks.pair_digest(truth.iloc[1:])))
    assert checks.matches(lost_one, want)
    lost_many = json.loads(json.dumps(checks.pair_digest(truth.iloc[10:])))
    assert not checks.matches(lost_many, want)
    false_pair = json.loads(json.dumps(checks.pair_digest(truth.assign(doc_b=truth.doc_b + 1))))
    assert not checks.matches(false_pair, want)
    wrong_value = json.loads(json.dumps(checks.pair_digest(truth.assign(jaccard=0.8))))
    assert not checks.matches(wrong_value, want)


def test_value_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert checks.value_hash(a) == checks.value_hash(b)
    assert checks.value_hash(a) != checks.value_hash(a.assign(x=[1, 3]))


def test_wrong_playstore_fact_fails():
    want = {"value": {"best_apps_rows": 10, "metrics": {"Tools": {"Count": 3, "Average_Rating": 4.1}}}}
    got = json.loads(json.dumps(want))
    assert checks.matches(got, want)
    got["value"]["metrics"]["Tools"]["Average_Rating"] = 4.2
    assert not checks.matches(got, want)


def test_tail_percentile_leaves_ten_samples_above():
    value, pct, n = metrics.tail([float(i) for i in range(1, 41)])
    assert (value, n) == (30.0, 40) and pct == 75.0
    assert metrics.tail([3.0, 1.0])[0] == 3.0


def test_benchmark_json_lists_every_metric():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in bench["end_to_end"]] == list(metrics.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(metrics.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(metrics.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in bench["end_to_end"])
               for m in bench["end_to_end"])


def test_playstore_pair_is_a_pure_function_of_the_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    facts_a, facts_b = inputs._playstore(a, 3), inputs._playstore(b, 3)
    for name in ("googleplaystore.csv", "googleplaystore_user_reviews.csv"):
        assert (a / "playstore" / name).read_bytes() == (b / "playstore" / name).read_bytes()
    assert facts_a == facts_b
    assert set(facts_a["planted"]) >= {
        "shifted", "doubled_quote", "smeared", "duplicate", "lowercase_k", "varies", "dollar_price", "nan_rating"
    }
    assert inputs._playstore(tmp_path / "c", 4) != facts_a
    shifted = facts_a["planted"]["shifted"]
    assert shifted["Categories"] == ["1.9"] and shifted["Rating"] == 19.0 and shifted["Size"] is None
    assert len(facts_a["planted"]["duplicate"]["Categories"]) == 2
