"""The generator is a pure function of the seed: same seed, byte-identical
inputs; another seed, other inputs. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 7, str(tmp_path / "b"))
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert a.keys() == b.keys()
    assert a == b


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_other_seed_gives_other_inputs(tmp_path, workload):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 8, str(tmp_path / "b"))
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    parquet = [n for n in a if n.endswith(".parquet")]
    assert parquet and all(a[n] != b[n] for n in parquet)


def test_import_expectations_follow_the_identity_rule(tmp_path):
    """Items are counted once per hash: shared references dedup across pages."""
    plan = gen.generate("import_batches", 3, str(tmp_path))
    exp = plan["expect"]
    census = exp["items_by_type"]
    assert census["WIKIPEDIA_PAGE"] == exp["pages"] == gen.PARAMS["import_batches"]["pages_per_batch"]
    assert exp["new_items"] == sum(census.values())
    assert 0 < exp["rejects"]
    hits = [r for r in plan["reads"] if r["kind"] == "lookup" and r["qids"]]
    assert hits and all(r["qids"] == ["Q" + r["hash"]] for r in hits)


def test_nightly_expectations_are_consistent(tmp_path):
    plan = gen.generate("nightly_lifecycle", 3, str(tmp_path))
    e = plan["expect"]
    assert len(e["kept_ids"]) + e["dup_of_history"] + e["dup_of_batch"] + e["low_quality"] == e["docs"]
    assert set(plan["purge_ids"]) <= set(e["kept_ids"])
    assert set(plan["purge_ids"]).isdisjoint(plan["bootstrap_ids"])
    assert len(plan["purge_hashes"]) == len(plan["purge_ids"])
    with open(tmp_path / "plan.json", encoding="utf-8") as f:
        assert json.load(f)["params"] == gen.PARAMS["nightly_lifecycle"]
