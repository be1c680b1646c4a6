"""The generator is deterministic per seed and caches by (workload, seed,
size)."""

import hashlib
import os

import pandas as pd
import pytest

from dedupbench.workloads import WORKLOADS, ensure_corpus, generate_tables


def tables_digest(tables):
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(tables[name], index=False).values.tobytes())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_tables(name):
    w = WORKLOADS[name]
    a = tables_digest(generate_tables(w, 5, 80))
    b = tables_digest(generate_tables(w, 5, 80))
    c = tables_digest(generate_tables(w, 6, 80))
    assert a == b
    assert a != c


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_page_has_an_expected_key_and_pairs_are_planted(name):
    t = generate_tables(WORKLOADS[name], 2, 120)
    assert len(t["pages"]) >= 120
    assert set(t["families"]["url"]) == set(t["pages"]["url"])
    assert len(t["pairs"]) > 0
    urls = set(t["pages"]["url"])
    assert set(t["pairs"]["url_a"]) <= urls and set(t["pairs"]["url_b"]) <= urls


def test_carry_modes():
    long_pages = generate_tables(WORKLOADS["long_pages"], 1, 60)["pages"]
    assert long_pages["html"].notna().all() and long_pages["text"].isna().all()
    dense = generate_tables(WORKLOADS["near_dup_dense"], 1, 60)["pages"]
    # quarantine rows may carry neither; every other page carries text
    assert dense["html"].isna().all()


def test_cache_is_reused(tmp_path):
    w = WORKLOADS["near_dup_dense"]
    d1 = ensure_corpus(str(tmp_path), w, 3, 40)
    stamp = os.path.getmtime(os.path.join(d1, "pages.parquet"))
    d2 = ensure_corpus(str(tmp_path), w, 3, 40)
    assert d1 == d2
    assert os.path.getmtime(os.path.join(d2, "pages.parquet")) == stamp
    assert ensure_corpus(str(tmp_path), w, 4, 40) != d1
