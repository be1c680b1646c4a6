"""Seeded workload generator for the dedup benchmark.

Each workload drives ``sift_kg_spark.fixtures.CorpusGenerator`` with its
own class mix and page length, and writes next to the pages:

  pages.parquet      url, warc_ts, html, text, lang   (the engine's input)
  pairs.parquet      url_a, url_b, dup_class          (planted dup pairs)
  families.parquet   url, expect                      (expected cluster key
                                                       of EVERY page: the
                                                       planted family for
                                                       pages that must merge,
                                                       the url itself for
                                                       pages that must not)

Outputs are cached under ``<cache_root>/<workload>-s<seed>-n<size>-v<V>``;
a ``_DONE`` marker is written last, so a half-written directory is never
reused. The same (workload, seed, size) always yields byte-identical
tables.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from sift_kg_spark.fixtures import (
    CorpusGenerator,
    _confirmable,
    _pair_signals,
    _sentences,
)

# Bump when the generated content changes, so stale caches are not reused.
GENERATOR_VERSION = 2

LONG_CHAIN_PAGES = 9


@dataclass(frozen=True)
class Workload:
    """One corpus shape; why each exists is recorded in BENCHMARK.json."""

    name: str
    size: int                   # pages per corpus
    mix: tuple                  # ((CorpusGenerator class method, weight), ...)
    carry_html: bool            # every page ships html (else text)
    unique_sentences: tuple = (4, 40)   # d0 page length in sentences
    heavy: bool = True          # plant the ~1% heavy-hitter family


WORKLOADS = {
    "long_pages": Workload(
        name="long_pages",
        size=400,
        mix=(("d0_unique", 0.97), ("d3_near", 0.02), ("d1_exact", 0.01)),
        carry_html=True,
        unique_sentences=(40, 200),
        heavy=False,
    ),
    "near_dup_dense": Workload(
        name="near_dup_dense",
        size=320,
        mix=(
            ("d3_near", 0.24),
            ("d5_containment", 0.16),
            ("d7_flagged", 0.16),
            ("chain_family", 0.04),
            ("long_chain_family", 0.08),
            ("d4_boilerplate_group", 0.12),
            ("d1_exact", 0.08),
            ("d2_variant", 0.04),
            ("d0_unique", 0.08),
        ),
        carry_html=False,
    ),
}


class WorkloadGenerator(CorpusGenerator):
    """CorpusGenerator with a workload's class mix, carry mode and
    unique-page length; planted classes keep the fixture's construction
    (and its confirmability margins) unchanged."""

    def __init__(self, workload: Workload, seed: int, n_pages: int) -> None:
        super().__init__(n_pages, seed)
        self.workload = workload

    def _emit(self, cls, family, member, lang, sents, template, force_text=None):
        return super()._emit(
            cls, family, member, lang, sents, template,
            force_text=not self.workload.carry_html,
        )

    def d0_unique(self) -> None:
        lo, hi = self.workload.unique_sentences
        fam = self._new_family()
        self._emit(
            "d0", fam, 0, self._lang(),
            _sentences(self.rng, int(self.rng.integers(lo, hi))),
            int(self.rng.integers(0, 5)),
        )

    def long_chain_family(self) -> None:
        """Successive edits of one page, 9 members, each confirmable
        against the previous one: the family's first and last pages meet
        only through transitive closure over several connected-components
        rounds. Fixed length and enough families per corpus keep the
        deepest chain, and so the round count, about equal across seeds."""
        fam = self._new_family()
        lang = self._lang()
        tpl = int(self.rng.integers(0, 5))
        prev = _sentences(self.rng, 30)
        members = [self._emit("chain", fam, 0, lang, prev, tpl)]
        for m in range(1, LONG_CHAIN_PAGES):
            nxt = prev
            for _ in range(8):
                nxt = self._mutate(prev, 0.03)
                j, h, sp, ov = _pair_signals(
                    self._full_text(prev, tpl), self._full_text(nxt, tpl), self.cfg
                )
                if _confirmable(j, h, sp, ov, self.cfg):
                    break
            members.append(self._emit("chain", fam, m, lang, nxt, tpl))
            prev = nxt
        self._record_cluster(members)

    def generate(self):
        if self.workload.heavy:
            self.heavy_family(max(8, self.n // 100))
        names = [m for m, _ in self.workload.mix]
        weights = np.array([w for _, w in self.workload.mix], dtype=float)
        cum = np.cumsum(weights / weights.sum())
        while self._row_idx < self.n:
            pick = int(np.searchsorted(cum, self.rng.random(), side="right"))
            getattr(self, names[min(pick, len(names) - 1)])()
        return self.c


def generate_tables(
    workload: Workload, seed: int, n_pages: int
) -> dict[str, pd.DataFrame]:
    """(pages, pairs, families) for one workload draw — pure, in memory."""
    c = WorkloadGenerator(workload, seed, n_pages).generate()
    rows = pd.DataFrame(c.rows)
    pages = rows[["url", "warc_ts", "html", "text", "lang"]].copy()
    # Spark's parquet reader rejects TIMESTAMP(NANOS); write microseconds.
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    pairs = pd.DataFrame(c.pairs, columns=["url_a", "url_b", "dup_class"])
    planted = {r["url"]: f"family:{r['family_id']}" for r in c.clusters}
    families = pd.DataFrame(
        {
            "url": rows["url"],
            "expect": [planted.get(u, f"url:{u}") for u in rows["url"]],
        }
    )
    return {"pages": pages, "pairs": pairs, "families": families}


def ensure_corpus(
    cache_root: str, workload: Workload, seed: int, n_pages: int
) -> str:
    """Directory holding the workload's tables, generating them on a miss."""
    out = os.path.join(
        cache_root, f"{workload.name}-s{seed}-n{n_pages}-v{GENERATOR_VERSION}"
    )
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in generate_tables(workload, seed, n_pages).items():
        # Small row groups so the scan splits across cores.
        df.to_parquet(
            os.path.join(tmp, f"{name}.parquet"), index=False,
            row_group_size=256,
        )
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok\n")
    os.replace(tmp, out)
    return out
