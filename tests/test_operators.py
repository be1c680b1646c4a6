"""Operator-level Spark tests: exact stage, LSH exchange + hot-band star,
verify thresholds, connected components. Micro-fixtures mirror the
reference's unit matrix (/root/reference/tests/test_prededup.py:42-164,
test_resolve.py:153-270, test_communities.py:8-38)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sift_kg_spark.config import DedupConfig
from sift_kg_spark.operators import components
from sift_kg_spark.operators.components import connected_components
from sift_kg_spark.operators.exact import exact_dup_pairs, exact_representatives
from sift_kg_spark.operators.lsh import candidate_pairs
from sift_kg_spark.operators.verify import verify_pairs

CFG = DedupConfig()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "url string, lang string, text_norm string")


class TestExactStage:
    def test_star_edges_to_min_url(self, spark):
        docs = _docs(
            spark,
            [("u3", "en", "same text"), ("u1", "en", "same text"),
             ("u2", "en", "same text"), ("u9", "en", "other text")],
        )
        pairs = exact_dup_pairs(docs, CFG).collect()
        assert {(r.url_a, r.url_b) for r in pairs} == {("u2", "u1"), ("u3", "u1")}

    def test_cross_lang_not_merged(self, spark):
        # per-lang grouping = the reference's per-entity-type grouping
        # (test_prededup.py:109-116: same name, different type -> no merge)
        docs = _docs(spark, [("a", "en", "same"), ("b", "es", "same")])
        assert exact_dup_pairs(docs, CFG).count() == 0
        cfg_nolang = DedupConfig(partition_by_lang=False)
        assert exact_dup_pairs(docs, cfg_nolang).count() == 1

    def test_representatives_unique_per_sha(self, spark):
        docs = _docs(
            spark,
            [("u2", "en", "x"), ("u1", "en", "x"), ("u3", "en", "y")],
        ).withColumn("sha", F.sha2("text_norm", 256))
        reps = exact_representatives(docs, CFG)
        assert {r.url for r in reps.collect()} == {"u1", "u3"}


class TestCandidatePairs:
    # packed keys: channel tag in the low 2 bits (0=minhash, 1=simchunk,
    # 2=anchor); a minhash band key stands alone, others need >=2 co-fires
    MH = 0b1000  # minhash-channel key (tag 0)
    AN = 0b1010  # anchor-channel key (tag 2)

    def _keys(self, spark, rows):
        return spark.createDataFrame(rows, "doc_uid long, lang string, key long")

    def test_small_bucket_all_pairs(self, spark):
        keys = self._keys(
            spark, [(1, "en", self.MH), (2, "en", self.MH), (3, "en", self.MH)]
        )
        got = {(r.uid_a, r.uid_b) for r in candidate_pairs(keys, CFG).collect()}
        assert got == {(1, 2), (1, 3), (2, 3)}

    def test_hot_bucket_star_reduction(self, spark):
        cfg = DedupConfig(hot_band_cap=4)
        n = 10
        keys = self._keys(spark, [(i, "en", self.MH) for i in range(n)])
        pairs = candidate_pairs(keys, cfg).collect()
        # star: n-1 pairs, all against the min url
        assert len(pairs) == n - 1
        assert all(r.uid_a == 0 for r in pairs)

    def test_distinct_keys_never_pair(self, spark):
        keys = self._keys(
            spark, [(1, "en", self.MH), (2, "en", self.MH + 4)]
        )
        assert candidate_pairs(keys, CFG).count() == 0

    def test_lang_isolation(self, spark):
        keys = self._keys(
            spark, [(1, "en", self.MH), (2, "es", self.MH)]
        )
        assert candidate_pairs(keys, CFG).count() == 0

    def test_single_anchor_gated_multi_anchor_kept(self, spark):
        keys = self._keys(
            spark,
            [(1, "en", self.AN), (2, "en", self.AN),           # 1 co-fire
             (3, "en", self.AN + 4), (4, "en", self.AN + 4),   # 2 co-fires
             (3, "en", self.AN + 8), (4, "en", self.AN + 8)],
        )
        got = {(r.uid_a, r.uid_b) for r in candidate_pairs(keys, CFG).collect()}
        assert got == {(3, 4)}

    def test_single_simchunk_key_survives_gate(self, spark):
        # Pigeonhole guarantee (round-1 advice): a pair at Hamming
        # n_chunks-2 spread over two chunks shares exactly ONE chunk-pair
        # key — it must NOT be dropped by the anchor-only >= 2 gate.
        SC = 0b1001  # simchunk-channel key (tag 1)
        keys = self._keys(spark, [(5, "en", SC), (6, "en", SC)])
        got = {
            (r.uid_a, r.uid_b, r.channel)
            for r in candidate_pairs(keys, CFG).collect()
        }
        assert got == {(5, 6, "simchunk")}


def _union_find(pairs) -> dict[str, str]:
    """Reference labels: every node -> the smallest url of its component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TestConnectedComponents:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "url_a string, url_b string")

    def _both_paths(self, spark, monkeypatch, pairs, **kwargs):
        """Labels from the driver-local finish and from star contraction
        (forced by a zero edge budget). Each call must leave the session
        as it found it: the shuffle-partition conf unchanged, and no
        persisted RDD left behind except the one checkpoint that backs
        the star path's result."""
        edges = self._edges(spark, pairs)
        jsc = spark.sparkContext._jsc
        conf = spark.conf.get("spark.sql.shuffle.partitions")
        out = {}
        for path, kept in (("local", 0), ("star", 1)):
            with monkeypatch.context() as m:
                if path == "star":
                    m.setattr(components, "_local_edge_budget", lambda _s: 0)
                before = set(jsc.getPersistentRDDs().keySet())
                out[path] = {
                    r.url: r.cluster_id
                    for r in connected_components(edges, **kwargs).collect()
                }
                new = set(jsc.getPersistentRDDs().keySet()) - before
            assert len(new) <= kept, (path, new)
            assert spark.conf.get("spark.sql.shuffle.partitions") == conf
        return out

    def test_two_clusters_bridge_and_singleton(self, spark):
        # mirror of test_communities.py:8-38: two dense clusters + bridge
        edges = self._edges(
            spark,
            [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
             ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
             ("a3", "b1")],  # bridge joins them into ONE component
        )
        labels = {r.url: r.cluster_id for r in connected_components(edges).collect()}
        assert len(set(labels.values())) == 1
        assert set(labels.values()) == {"a1"}

    def test_disjoint_components(self, spark):
        edges = self._edges(spark, [("a", "b"), ("c", "d"), ("x", "y"), ("y", "z")])
        labels = {r.url: r.cluster_id for r in connected_components(edges).collect()}
        assert labels == {"a": "a", "b": "a", "c": "c", "d": "c",
                          "x": "x", "y": "x", "z": "x"}

    def test_chain_transitive_closure(self, spark):
        """A~B, B~C, C~D with no direct A~D — matches the reference's
        iterate-apply_merges-until-fixpoint semantics (README.md:552-562)."""
        edges = self._edges(spark, [("d", "c"), ("b", "a"), ("c", "b")])
        labels = {r.url: r.cluster_id for r in connected_components(edges).collect()}
        assert set(labels.values()) == {"a"}

    def test_star(self, spark, monkeypatch):
        pairs = [(f"m{i}", "hub") for i in range(10)]
        got = self._both_paths(spark, monkeypatch, pairs)
        assert got["local"] == got["star"] == _union_find(pairs)
        assert set(got["local"].values()) == {"hub"}

    def test_star_contraction_parity_random(self, spark, monkeypatch):
        """Both paths agree with union-find on a random multi-component
        graph."""
        import random

        rng = random.Random(7)
        pairs = [
            (f"n{rng.randrange(120):03d}", f"n{rng.randrange(120):03d}")
            for _ in range(90)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        got = self._both_paths(spark, monkeypatch, pairs)
        assert got["local"] == got["star"] == _union_find(pairs)

    def test_star_contraction_long_chain(self, spark, monkeypatch):
        """A 200-node chain: diameter 199 >> log2(200). Star contraction
        must converge well inside the iteration cap (where propagation
        would need ~200 rounds); the local finish needs no cap."""
        n = 200
        pairs = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(n - 1)]
        got = self._both_paths(spark, monkeypatch, pairs, max_iterations=25)
        assert got["local"] == got["star"] == _union_find(pairs)
        assert set(got["star"].values()) == {"c0000"}
        assert len(got["star"]) == n

    def test_non_ascii_urls(self, spark, monkeypatch):
        """The local path orders urls with Arrow's sort, the star path
        with Spark's string order: both must pick the same min url."""
        pairs = [
            ("https://é.example/ä", "https://z.example/"),
            ("https://z.example/", "https://日本.example/"),
            ("https://Ω.org/", "https://ω.org/"),
            ("https://ω.org/", "https://a.org/\U0001F600"),
            ("https://ü.de/", "https://u.de/"),
        ]
        got = self._both_paths(spark, monkeypatch, pairs)
        assert got["local"] == got["star"] == _union_find(pairs)
        assert got["local"]["https://日本.example/"] == "https://z.example/"

    def test_no_edges(self, spark):
        out = connected_components(self._edges(spark, []))
        assert out.columns == ["url", "cluster_id"]
        assert out.collect() == []


class TestVerifyThresholds:
    def test_three_way_split(self, spark):
        """DRAFT/approve/reject semantics on controlled Jaccard levels."""
        import pandas as pd

        from sift_kg_spark.functions.features import compute_features_pdf

        words = [f"tok{i}" for i in range(200)]
        base = " ".join(words)
        near = " ".join(words[:-4] + ["x1", "x2", "x3", "x4"])     # J high
        half = " ".join(words[:120] + [f"z{i}" for i in range(80)])  # gray: J~0.42
        other = " ".join(f"q{i}" for i in range(200))               # J ~ 0

        texts = pd.Series([base, near, half, other])
        f = compute_features_pdf(texts, CFG)
        urls = ["base", "near", "half", "other"]
        uids = {"base": 10, "near": 11, "half": 12, "other": 13}
        feat = spark.createDataFrame(
            pd.DataFrame(
                {"doc_uid": [uids[u] for u in urls],
                 "shingles": [s.tolist() for s in f.shingles],
                 "simhash": f.simhash}
            )
        )
        pairs = spark.createDataFrame(
            [(10, 11, "minhash", 3), (10, 12, "minhash", 1), (10, 13, "minhash", 1)],
            "uid_a long, uid_b long, channel string, n_keys long",
        )
        got = {(r.uid_a, r.uid_b): r for r in verify_pairs(pairs, feat, CFG).collect()}
        assert got[(10, 11)].status == "confirmed"
        assert got[(10, 11)].decided_by in ("jaccard", "simhash")
        assert got[(10, 13)].status == "rejected"
        assert got[(10, 12)].status == "flagged"
        assert 0.0 <= got[(10, 12)].jaccard < CFG.approve_jaccard


class TestJaccardProperty:
    """Property-test verify_pairs' Jaccard (JVM ``array_intersect``)
    against a per-row set-intersection oracle (r3 VERDICT #8). The
    contract is duplicate-free shingle arrays per side; order does not
    matter; an empty or null side scores 0. One Spark call per batch:
    pair i is (uid 2i, uid 2i + 1)."""

    @staticmethod
    def _jaccard(spark, a_rows, b_rows, elem="int"):
        feats = []
        for i, (xa, xb) in enumerate(zip(a_rows, b_rows)):
            for uid, x in ((2 * i, xa), (2 * i + 1, xb)):
                feats.append((uid, None if x is None else [int(v) for v in x], 0))
        features = spark.createDataFrame(
            feats, f"doc_uid long, shingles array<{elem}>, simhash long"
        )
        pairs = spark.createDataFrame(
            [(2 * i, 2 * i + 1, "minhash", 1) for i in range(len(a_rows))],
            "uid_a long, uid_b long, channel string, n_keys long",
        )
        got = {r.uid_a: r.jaccard for r in verify_pairs(pairs, features, CFG).collect()}
        assert len(got) == len(a_rows)
        return [got[2 * i] for i in range(len(a_rows))]

    @staticmethod
    def _oracle(xa, xb):
        if xa is None or xb is None:
            return 0.0
        sa, sb = set(xa), set(xb)
        if not sa or not sb:
            return 0.0
        u = len(sa | sb)
        return len(sa & sb) / u if u else 0.0

    def test_ragged_rows_vs_set_oracle(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        elem = st.integers(min_value=-(2**31), max_value=2**31 - 1)
        side = st.one_of(
            st.none(), st.sets(elem, max_size=16).map(sorted)
        )
        rows = st.lists(st.tuples(side, side), min_size=20, max_size=40)
        n_pairs = []

        @settings(
            max_examples=15,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
        )
        @given(rows)
        def check(batch):
            got = self._jaccard(
                spark, [r[0] for r in batch], [r[1] for r in batch]
            )
            want = [self._oracle(xa, xb) for xa, xb in batch]
            for g, w in zip(got, want):
                assert abs(g - w) < 1e-12, (g, w)
            n_pairs.append(len(batch))

        check()
        assert sum(n_pairs) >= 300

    def test_int64_inputs_and_known_values(self, spark):
        a = [[1, 2, 3], [], None, [-5, 7]]
        b = [[2, 3, 4], [1], [1], [-5, 7]]
        assert self._jaccard(spark, a, b, elem="bigint") == [0.5, 0.0, 0.0, 1.0]

    def test_empty_batch(self, spark):
        assert self._jaccard(spark, [], []) == []


class TestSaltedSizing:
    """salted_sizing=True (two-level pre-salted bucket count) must be
    bit-identical to the window path — same pairs, channels, n_keys —
    including across the hot-band star threshold."""

    def _keys(self, spark):
        # 3 collision buckets: a pair (tag 0), a triple (tag 1), and a
        # hot bucket of 9 > hot_band_cap=4 (tag 0); plus singletons.
        rows = []
        rows += [(i, "en", 8) for i in (1, 2)]               # pair
        rows += [(i, "en", 17) for i in (3, 4, 5)]           # triple, tag 1
        rows += [(i, "en", 40) for i in range(10, 19)]       # hot bucket
        rows += [(i, "en", 1000 + 4 * i) for i in range(30, 40)]  # singletons
        return spark.createDataFrame(
            rows, "doc_uid long, lang string, key long"
        )

    def test_candidate_pairs_bit_identical(self, spark):
        keys = self._keys(spark)
        cfg_w = DedupConfig(hot_band_cap=4)
        cfg_s = DedupConfig(hot_band_cap=4, salted_sizing=True)
        cols = ["uid_a", "uid_b", "channel", "n_keys"]
        got_w = sorted(
            tuple(r[c] for c in cols)
            for r in candidate_pairs(keys, cfg_w).collect()
        )
        got_s = sorted(
            tuple(r[c] for c in cols)
            for r in candidate_pairs(keys, cfg_s).collect()
        )
        assert got_w == got_s
        assert len(got_w) == 1 + 3 + 8  # pair + triple all-pairs + star(9)
        # star pairs all include the hot bucket's min uid
        star = [p for p in got_w if p[0] == 10]
        assert len(star) == 8

    def test_winnow_pairs_bit_identical(self, spark):
        from sift_kg_spark.operators.winnow import fingerprint_pairs

        fps = spark.createDataFrame(
            [("a", "f1"), ("b", "f1"), ("a", "f2"), ("b", "f2"),
             ("c", "f2"), ("d", "f9")],
            "doc_id string, fp string",
        )
        base = sorted(
            (r.doc_a, r.doc_b, r.n_shared)
            for r in fingerprint_pairs(fps, min_shared=1).collect()
        )
        salted = sorted(
            (r.doc_a, r.doc_b, r.n_shared)
            for r in fingerprint_pairs(
                fps, min_shared=1, salted_sizing=True
            ).collect()
        )
        assert base == salted
        assert ("a", "b", 2) in base
