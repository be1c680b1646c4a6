"""Build a larger-scale REPLICA of the driver testdata tables for local
measurement (bench_extra / frozen-bench dry runs at the driver's escalated
scale). /root/testdata is read-only and ships only sf0.001/0.01/0.1; the
driver's round-end measurement generates its own bigger sf. This script
scales sf0.1 up by an integer factor while preserving the properties that
drive query cost:

  * relational tables (customer/supplier/part/orders/lineitem): replicated
    with per-replica KEY OFFSETS, so every join fan-out (orders per
    customer, lineitems per order, parts per lineitem) is exactly the
    sf0.1 value and total rows scale linearly — the TPC-H-ish queries see
    the same per-key cardinalities at N x the volume;
  * events: replicated with user_id/event_id offsets — sessions never span
    replicas, so sessionize/degree distributions scale linearly;
  * documents: replicated with doc_id offsets; every replica > 0 gets a
    deterministic per-replica VOCABULARY BIJECTION applied to its texts
    (word order kept). Within a replica every set relation between docs is
    isomorphic to sf0.1 — identical Jaccard values, identical exact-dup
    groups, same simhash Hamming structure — while cross-replica token
    sets are (near-)disjoint, so replicas never merge with each other.
    (A naive word PERMUTATION per replica fails here: simhash is computed
    over unigram token hashes, so permuted copies are simhash-IDENTICAL
    and every doc becomes a 10-member Hamming-0 family — candidate volume
    and cluster structure explode beyond anything the real generator
    produces. Measured: dedup_full_pipeline 49 s on the permuted replica
    vs ~10 s-class on driver data.);
  * embeddings: replicated with vec_id offsets; every replica > 0 gets a
    deterministic coordinate permutation + sign flips (norms and
    intra-replica geometry exact; cross-replica similarity scrambled);
  * region/nation: fixed-size dimensions, copied as-is.

Timing fidelity, not value fidelity: query RESULTS over a replica differ
from the driver's own escalated-sf data (different rows), so replicas are
never used for oracle checks — scripts/check_entry.py keeps using the
shipped read-only SFs.

Usage: python scripts/make_testdata_replica.py [factor] [outdir]
  default: factor 10, outdir data/replica/sf<0.1*factor>
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

KEY_OFFSETS = {
    # column -> offset unit per replica (a round power of 10 above the
    # sf0.1 max key, so replica key ranges never collide)
    "c_custkey": 1_000_000,
    "s_suppkey": 1_000_000,
    "p_partkey": 1_000_000,
    "o_orderkey": 10_000_000,
    "o_custkey": 1_000_000,
    "l_orderkey": 10_000_000,
    "l_partkey": 1_000_000,
    "l_suppkey": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}


def _replicate_keyed(name: str, factor: int, outdir: str) -> None:
    tbl = pq.read_table(f"{SRC}/{name}.parquet")
    pdf = tbl.to_pandas()
    parts = []
    for r in range(factor):
        rep = pdf.copy()
        for col in rep.columns:
            if col in KEY_OFFSETS and r > 0:
                rep[col] = rep[col] + r * KEY_OFFSETS[col]
        parts.append(rep)
    import pandas as pd

    out = pd.concat(parts, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(out, schema=tbl.schema, preserve_index=False),
        f"{outdir}/{name}.parquet",
    )
    print(f"  {name}: {len(pdf)} -> {len(out)} rows")


def _replicate_documents(factor: int, outdir: str) -> None:
    tbl = pq.read_table(f"{SRC}/documents.parquet")
    pdf = tbl.to_pandas()
    vocab = sorted({w for t in pdf["text"] for w in t.split(" ") if w})
    parts = [pdf]
    for r in range(1, factor):
        rep = pdf.copy()
        rng = np.random.default_rng(42_000 + r)
        perm = rng.permutation(len(vocab))
        # per-replica bijection: vocab[i] -> vocab[perm[i]] + a replica tag
        # on a deterministic subset, so even permutation fixed points and
        # short-word collisions cannot align token hashes across replicas
        mapping = {
            w: (vocab[perm[i]] + (f"r{r}" if (i + r) % 2 == 0 else ""))
            for i, w in enumerate(vocab)
        }
        # injective, or a tagged word could collide with an untagged one
        assert len(set(mapping.values())) == len(vocab), r
        texts = [
            " ".join(mapping.get(w, w) for w in t.split(" "))
            for t in rep["text"].tolist()
        ]
        rep["text"] = texts
        rep["n_chars"] = [len(t) for t in texts]
        rep["doc_id"] = rep["doc_id"] + r * KEY_OFFSETS["doc_id"]
        parts.append(rep)
    import pandas as pd

    out = pd.concat(parts, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(out, schema=tbl.schema, preserve_index=False),
        f"{outdir}/documents.parquet",
    )
    print(f"  documents: {len(pdf)} -> {len(out)} rows")


def _replicate_embeddings(factor: int, outdir: str) -> None:
    tbl = pq.read_table(f"{SRC}/embeddings.parquet")
    pdf = tbl.to_pandas()
    dim = len(pdf["embedding"].iloc[0])
    parts = [pdf]
    for r in range(1, factor):
        rep = pdf.copy()
        rng = np.random.default_rng(43_000 + r)
        perm = rng.permutation(dim)
        signs = rng.choice([-1.0, 1.0], size=dim).astype(np.float32)
        mat = np.stack(
            [np.asarray(v, dtype=np.float32) for v in rep["embedding"]]
        )
        mat = mat[:, perm] * signs
        rep["embedding"] = [row for row in mat]
        rep["vec_id"] = rep["vec_id"] + r * KEY_OFFSETS["vec_id"]
        parts.append(rep)
    import pandas as pd

    out = pd.concat(parts, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(out, schema=tbl.schema, preserve_index=False),
        f"{outdir}/embeddings.parquet",
    )
    print(f"  embeddings: {len(pdf)} -> {len(out)} rows")


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf = round(0.1 * factor, 4)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(repo_root, "data", "replica", f"sf{sf}")
    )
    os.makedirs(outdir, exist_ok=True)
    print(f"replicating {SRC} x{factor} -> {outdir}")
    for name in ["region", "nation"]:
        t = pq.read_table(f"{SRC}/{name}.parquet")
        pq.write_table(t, f"{outdir}/{name}.parquet")
        print(f"  {name}: copied ({t.num_rows} rows)")
    for name in ["customer", "supplier", "part", "orders", "lineitem",
                 "events"]:
        _replicate_keyed(name, factor, outdir)
    _replicate_documents(factor, outdir)
    _replicate_embeddings(factor, outdir)
    return 0


if __name__ == "__main__":
    sys.exit(main())
