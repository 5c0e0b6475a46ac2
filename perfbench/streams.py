"""Seeded operation streams of `fs_meta` and `store_rw`, and the fixed
query list of `pipeline`.

Pure Python: nothing here touches Spark, so the streams (and the tests
that pin them) run without a JVM. Every stream is a function of the seed
and of the dataset's namespace only; the program under test receives the
generated calls, never the seed.

The op MIX of a pass is fixed and only the paths, the documents and the
order of the calls come from the seed, so pass times are comparable
across seeds.
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from dataclasses import dataclass

# ---- fs_meta ---------------------------------------------------------------

# One pass = 20 SnackCatalog calls: mostly point reads (stat, ls,
# test_predicates), a few subtree scans, two full-file opens and two
# per-path block-location lookups.
FS_MIX: tuple[tuple[str, int], ...] = (
    ("stat", 5),
    ("ls", 3),
    ("test_predicates", 4),
    ("lsr", 1),
    ("du", 1),
    ("dus", 1),
    ("count", 1),
    ("open", 2),
    ("block_locations", 2),
)
# One stat and one open per pass (10% of the calls) name a path that does
# not exist: the empty-result and the FileNotFoundError paths.
FS_MISSING_KINDS = ("stat", "open")
# Calls that take a directory get one of the 20 source dirs, so every
# pass scans subtrees of about the same size; open and block_locations
# take a file, stat and test_predicates any entry.
DIR_KINDS = frozenset({"ls", "lsr", "du", "dus", "count"})
FILE_ONLY_KINDS = frozenset({"open", "block_locations"})


@dataclass(frozen=True)
class Namespace:
    """The filesystem namespace the fsmodel derives from `documents`:
    one file per (doc_id, source), one dir per source, `/data` and `/`."""

    docs: tuple[tuple[int, str], ...]  # (doc_id, source), sorted by doc_id

    @property
    def files(self) -> list[str]:
        return [doc_path(d, s) for d, s in self.docs]

    @property
    def dirs(self) -> list[str]:
        return ["/", "/data"] + [f"/data/{s}" for s in sorted({s for _, s in self.docs})]


def doc_path(doc_id: int, source: str) -> str:
    return f"/data/{source}/doc_{doc_id}.txt"


@dataclass(frozen=True)
class FsCall:
    kind: str
    path: str
    exists: bool


def fs_meta_passes(seed: int, ns: Namespace) -> Iterator[list[FsCall]]:
    """An endless stream of passes; pass i is the same for every run with
    this seed, however many passes the run makes."""
    rng = random.Random(f"fs_meta:{seed}")
    files, dirs = ns.files, ns.dirs
    entries = files + dirs
    top_id = max(d for d, _ in ns.docs) + 1
    sources = sorted({s for _, s in ns.docs})
    source_dirs = [f"/data/{s}" for s in sources]
    while True:
        missing_left = set(FS_MISSING_KINDS)
        calls = []
        for kind in (k for k, n in FS_MIX for _ in range(n)):
            if kind in missing_left:
                missing_left.remove(kind)
                path = doc_path(top_id + rng.randrange(len(files)), rng.choice(sources))
                calls.append(FsCall(kind, path, False))
            elif kind in DIR_KINDS:
                calls.append(FsCall(kind, rng.choice(source_dirs), True))
            elif kind in FILE_ONLY_KINDS:
                calls.append(FsCall(kind, rng.choice(files), True))
            else:
                calls.append(FsCall(kind, rng.choice(entries), True))
        rng.shuffle(calls)
        yield calls


# ---- store_rw ---------------------------------------------------------------

STORE_DOCS_PER_PASS = 60
STORE_LOOKUPS_PER_PASS = 2
STORE_LISTINGS_PER_PASS = 1


@dataclass(frozen=True)
class StorePass:
    doc_ids: tuple[int, ...]  # the documents this pass writes, ascending
    lookups: tuple[str, ...]  # `path = X` point reads, all written paths
    listings: tuple[str, ...]  # metadata-only `path LIKE prefix%` reads


def store_passes(
    seed: int, ns: Namespace, docs_per_pass: int = STORE_DOCS_PER_PASS
) -> Iterator[StorePass]:
    rng = random.Random(f"store_rw:{seed}:{docs_per_pass}")
    by_id = dict(ns.docs)
    ids = sorted(by_id)
    while True:
        chosen = sorted(rng.sample(ids, docs_per_pass))
        looked = rng.sample(chosen, STORE_LOOKUPS_PER_PASS)
        sources = sorted({by_id[d] for d in chosen})
        listed = rng.sample(sources, STORE_LISTINGS_PER_PASS)
        yield StorePass(
            doc_ids=tuple(chosen),
            lookups=tuple(doc_path(d, by_id[d]) for d in looked),
            listings=tuple(f"/data/{s}/" for s in listed),
        )


# ---- pipeline ---------------------------------------------------------------

# Every cold pass both builds and hits the shared memoized relations of
# the similarity-join family:
#   dedup_prefix_filter  builds the distinct-shingle relation and the
#                        verified-pairs (prefix-filter) relation on top;
#   text_boilerplate     hits the distinct-shingle relation.
# The list is this short so that every run of the benchmark fits its
# time budget: dedup_lsh_tuning (which hits the prefix-filter relation)
# would add about 6 s to a pass, and q1_pricing_summary (a memo-free
# relational query) about 5 s to a run, with its check.
#
# The order is fixed, not seeded: on a 4-core host a seeded order moved
# the cold pass by up to 25%, because the first query also pays the
# JVM's warm-up and the order moves the shingle build between queries.
# In this order dedup_prefix_filter always pays the builds and the hit
# comes after them.
PIPELINE_QUERIES: tuple[str, ...] = (
    "dedup_prefix_filter",
    "text_boilerplate",
)
