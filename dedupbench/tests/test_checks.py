"""Each output check fires on a deliberately corrupted result."""

import pandas as pd
import pytest

from dedupbench.checks import (
    check_result,
    checksum,
    cluster_purity,
    dup_pair_recall,
    false_merges,
)
from dedupbench.workloads import WORKLOADS, generate_tables


@pytest.fixture(scope="module")
def golden():
    t = generate_tables(WORKLOADS["near_dup_dense"], 9, 150)
    fam = t["families"]
    # the perfect answer: one cluster per expected key, min url as id
    cid = fam.groupby("expect")["url"].transform("min")
    assignments = pd.DataFrame({"url": fam["url"], "cluster_id": cid})
    assignments["canonical_url"] = assignments["cluster_id"]
    assignments["cluster_size"] = assignments.groupby("cluster_id")["url"].transform("size")
    clusters = (
        assignments.groupby("cluster_id")
        .agg(size=("url", "size"), canonical_url=("canonical_url", "min"))
        .reset_index()
    )
    return assignments, clusters, t["pairs"], fam


def _clusters_of(assignments):
    return (
        assignments.groupby("cluster_id")
        .agg(size=("url", "size"), canonical_url=("canonical_url", "min"))
        .reset_index()
    )


def _resize(assignments):
    a = assignments.copy()
    a["cluster_size"] = a.groupby("cluster_id")["url"].transform("size")
    return a


def test_perfect_answer_passes(golden):
    a, c, pairs, fam = golden
    assert check_result(a, c, pairs, fam, checksum(a)) == []
    assert dup_pair_recall(a, pairs) == 1.0
    assert cluster_purity(a, fam) == 1.0


def test_split_families_fail_recall(golden):
    a, _, pairs, fam = golden
    a = a.copy()
    a["cluster_id"] = a["url"]  # nothing merged
    a = _resize(a)
    failures = check_result(a, _clusters_of(a), pairs, fam)
    assert dup_pair_recall(a, pairs) == 0.0
    assert any("dup_pair_recall" in f for f in failures)


def test_false_merge_fires(golden):
    a, _, pairs, fam = golden
    a = a.copy()
    singles = fam[fam["expect"].str.startswith("url:")]["url"].head(2).tolist()
    a.loc[a["url"].isin(singles), "cluster_id"] = min(singles)
    a = _resize(a)
    assert false_merges(a, fam) == 1
    assert cluster_purity(a, fam) < 1.0
    assert any("false_merges" in f for f in check_result(a, _clusters_of(a), pairs, fam))


def test_checksum_fires_on_any_changed_field(golden):
    a, c, pairs, fam = golden
    ref = checksum(a)
    assert checksum(a.sample(frac=1.0, random_state=1)) == ref  # order-free
    changed = a.copy()
    changed.loc[changed.index[0], "canonical_url"] = "https://elsewhere.example/"
    assert checksum(changed) != ref
    assert any("checksum" in f for f in check_result(changed, c, pairs, fam, ref))


def test_inconsistent_tables_fire(golden):
    a, c, pairs, fam = golden
    bad_size = a.copy()
    bad_size.loc[bad_size.index[0], "cluster_size"] += 1
    assert any("cluster_size" in f for f in check_result(bad_size, c, pairs, fam))
    assert any("clusters" in f for f in check_result(a, c.iloc[1:], pairs, fam))
    dup = pd.concat([a, a.iloc[:1]])
    assert any("twice" in f for f in check_result(dup, c, pairs, fam))
