"""Output checks for one pipeline result, all on driver-side pandas.

Every check returns a list of failure strings (empty = pass), so a run
can report every reason it failed, not just the first.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

MIN_RECALL = 0.99
ASSIGNMENT_COLUMNS = ["url", "cluster_id", "canonical_url", "cluster_size"]


def checksum(assignments: pd.DataFrame) -> str:
    """Order-free digest of (url, cluster_id, canonical_url, cluster_size):
    the sum mod 2^64 of one 64-bit hash per row, so row order and
    partitioning do not matter but any changed field does."""
    rows = assignments[ASSIGNMENT_COLUMNS].astype(str).agg("\x1f".join, axis=1)
    total = 0
    for row in rows:
        total += int.from_bytes(hashlib.blake2b(row.encode(), digest_size=8).digest(), "little")
    return f"{total % (1 << 64):016x}:{len(rows)}"


def dup_pair_recall(assignments: pd.DataFrame, pairs: pd.DataFrame) -> float:
    """Planted pairs whose two urls share a cluster ÷ planted pairs."""
    if len(pairs) == 0:
        return 1.0
    cid = dict(zip(assignments["url"], assignments["cluster_id"]))
    a = pairs["url_a"].map(cid)
    b = pairs["url_b"].map(cid)
    return float(((a == b) & a.notna()).sum() / len(pairs))


def false_merges(assignments: pd.DataFrame, families: pd.DataFrame) -> int:
    """Output clusters whose members carry more than one expected key
    (a planted family, or the url of a page that must stay alone)."""
    merged = assignments.merge(families, on="url", how="left")
    merged["expect"] = merged["expect"].fillna("unknown:" + merged["url"])
    keys = merged.groupby("cluster_id")["expect"].nunique()
    return int((keys > 1).sum())


def cluster_purity(assignments: pd.DataFrame, families: pd.DataFrame) -> float:
    """Multi-member output clusters holding one expected key ÷ all
    multi-member output clusters (1.0 when nothing is falsely merged)."""
    sizes = assignments.groupby("cluster_id")["url"].size()
    multi = int((sizes > 1).sum())
    if multi == 0:
        return 1.0
    return float((multi - false_merges(assignments, families)) / multi)


def check_result(
    assignments: pd.DataFrame,
    clusters: pd.DataFrame,
    pairs: pd.DataFrame,
    families: pd.DataFrame,
    expected_checksum: str | None = None,
) -> list[str]:
    """Recall, false merges, table consistency and (when given) checksum
    equality with a reference run over the same input."""
    failures = []
    if assignments["url"].duplicated().any():
        failures.append("assignments: a url appears twice")
    if assignments[ASSIGNMENT_COLUMNS].isna().any().any():
        failures.append("assignments: null field")
    recall = dup_pair_recall(assignments, pairs)
    if recall < MIN_RECALL:
        failures.append(f"dup_pair_recall {recall:.4f} < {MIN_RECALL}")
    fm = false_merges(assignments, families)
    if fm:
        failures.append(f"false_merges {fm} > 0")
    sizes = assignments.groupby("cluster_id")["url"].size()
    if not np.array_equal(
        assignments["cluster_size"].to_numpy(),
        assignments["cluster_id"].map(sizes).to_numpy(),
    ):
        failures.append("assignments: cluster_size disagrees with members")
    by_cluster = clusters.set_index("cluster_id")
    if len(clusters) != len(sizes) or not by_cluster.index.is_unique:
        failures.append("clusters: row count disagrees with assignments")
    elif not (by_cluster["size"].reindex(sizes.index) == sizes).all():
        failures.append("clusters: size disagrees with assignments")
    got = checksum(assignments)
    if expected_checksum is not None and got != expected_checksum:
        failures.append(f"checksum {got} != reference {expected_checksum}")
    return failures
