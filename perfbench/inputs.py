"""Seeded benchmark inputs: the corpus, the questions, the op schedule, and
the on-disk input cache.

Everything here is a pure function of ``(n_docs, seed)``; the engine only
ever sees the generated files and strings. The cache holds generated inputs
only, never an index or an answer: its key hashes the sources of the
modules that shape those inputs and of the oracle, so editing any of them
(or changing ``n_docs``/``seed``) misses the cache by construction.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np

# Served corpus size. Small on purpose: each run builds the base index three
# times in set-up and must still fit the benchmark's time budget.
N_DOCS = 3000
# The append carries this share of N_DOCS as fresh docs, plus a few re-sent
# urls that the engine must ignore (re-sends of deleted urls stay deleted).
FRESH_FRAC = 0.02
RESENDS_PER_APPEND = 5
# serve makes one append and one delete, so the served index has three
# segments, far below the engine's DEFAULT_MAX_SEGMENTS (8): no run compacts.
MAX_APPENDS = 1
DELETE_URLS = 100
NO_MATCH_FRAC = 0.05
REPEAT_FRAC = 0.20
GOLDEN_SET = 64
# Zipf rank bands of the corpus vocabulary (rank 0 is the most frequent word).
BANDS = {"head": (0, 100), "torso": (100, 2000), "tail": (2000, 10_000)}
# The band weights and the uniform 1-5 term count are assumed, not taken from
# a query log: no traffic measurement exists for this engine. The golden set
# leans on head terms so that its questions overlap heavily.
SERVE_BAND_P = (0.4, 0.35, 0.25)
GOLDEN_BAND_P = (0.6, 0.3, 0.1)
# Fixed "today" for the recency rerank, so answers do not depend on the clock.
NOW = "2024-06-30"

CACHE_FORMAT = 1
# Every source whose edit can change a cached input (hashing.py makes the
# doc ids), and the oracle the inputs are checked with.
CACHE_SOURCES = (
    "statschat_ke_spark/corpus.py",
    "statschat_ke_spark/functions/hashing.py",
    "statschat_ke_spark/index/oracle.py",
    "perfbench/inputs.py",
)


@dataclass(frozen=True)
class Op:
    """One scheduled engine call: ``read`` (arg = question, or None for the
    golden set), ``append`` (arg = append number) or ``delete`` (arg =
    delete number). ``repeat`` marks a read of a question already asked
    since the last write, which the result cache answers."""

    kind: str
    arg: object = None
    repeat: bool = False


def _question(rng: np.random.Generator, vocab: list[str], band_p) -> str:
    if rng.random() < NO_MATCH_FRAC:
        # "xq…" words are outside the corpus vocabulary: no term matches
        return " ".join(
            "xq" + "".join(rng.choice(list("abcdefghij"), 6))
            for _ in range(int(rng.integers(1, 4)))
        )
    words = []
    for _ in range(int(rng.integers(1, 6))):
        lo, hi = list(BANDS.values())[int(rng.choice(3, p=band_p))]
        words.append(vocab[int(rng.integers(lo, hi))])
    return " ".join(words)


def golden_set(seed: int) -> dict[int, str]:
    from statschat_ke_spark.corpus import vocabulary

    vocab = vocabulary()
    rng = np.random.default_rng([seed, 2])
    return {i: _question(rng, vocab, GOLDEN_BAND_P) for i in range(GOLDEN_SET)}


def schedule(seed: int, workload: str, n_reads: int) -> list[Op]:
    """The run's op order; the run executes a prefix of it.

    serve: one append and one delete (set-up runs them, see ``run.Bench``),
    then single-question reads. About REPEAT_FRAC of the reads repeat a
    question asked since the last write (a result-cache hit).

    batch: reads only, each one the whole golden set."""
    from statschat_ke_spark.corpus import vocabulary

    if workload == "batch":
        return [Op("read")] * n_reads
    vocab = vocabulary()
    rng = np.random.default_rng([seed, 1])
    ops: list[Op] = [Op("append", 0), Op("delete", 0)]
    asked: list[str] = []
    for _ in range(n_reads):
        if asked and rng.random() < REPEAT_FRAC:
            ops.append(Op("read", asked[int(rng.integers(len(asked)))], repeat=True))
        else:
            asked.append(_question(rng, vocab, SERVE_BAND_P))
            ops.append(Op("read", asked[-1]))
    return ops


def cache_key(root: str, n_docs: int, seed: int, sources=CACHE_SOURCES) -> str:
    h = hashlib.sha256(f"{CACHE_FORMAT}|{n_docs}|{seed}".encode())
    for rel in sources:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:32]


class Inputs:
    """The generated corpus of one ``(n_docs, seed)``, materialized once under
    ``cache_dir/<key>/``: ``base.parquet`` (the served corpus),
    ``append-<i>.parquet`` (fresh docs + re-sends), ``docs.parquet`` (every
    doc's text and metadata, for the oracle)."""

    def __init__(self, root: str, cache_dir: str, seed: int, n_docs: int = N_DOCS):
        self.seed, self.n_docs = seed, n_docs
        self.n_fresh = max(1, int(n_docs * FRESH_FRAC))
        self.dir = os.path.join(cache_dir, cache_key(root, n_docs, seed))
        self.hit = os.path.exists(os.path.join(self.dir, "_DONE"))
        if not self.hit:
            self._materialize()
        import pandas as pd

        self.docs = pd.read_parquet(os.path.join(self.dir, "docs.parquet"))
        self.base_urls = self.docs["url"].iloc[:n_docs].tolist()

    @property
    def base_path(self) -> str:
        return os.path.join(self.dir, "base.parquet")

    def append_path(self, i: int) -> str:
        return os.path.join(self.dir, f"append-{i}.parquet")

    def delete_urls(self, i: int) -> list[str]:
        """Delete ``i``'s urls: disjoint seeded samples of the base corpus."""
        order = np.random.default_rng([self.seed, 3]).permutation(self.n_docs)
        lo = (i * DELETE_URLS) % self.n_docs
        return [self.base_urls[j] for j in order[lo : lo + DELETE_URLS]]

    def resend_urls(self, i: int) -> list[str]:
        rng = np.random.default_rng([self.seed, 4, i])
        return [self.base_urls[j] for j in rng.choice(self.n_docs, RESENDS_PER_APPEND, replace=False)]

    def fresh_urls(self, i: int) -> list[str]:
        lo = self.n_docs + i * self.n_fresh
        return self.docs["url"].iloc[lo : lo + self.n_fresh].tolist()

    def _materialize(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from statschat_ke_spark.corpus import generate_documents
        from statschat_ke_spark.functions.hashing import xxhash64_str

        pool = generate_documents(self.n_docs + MAX_APPENDS * self.n_fresh, seed=self.seed)
        tmp = f"{self.dir}.tmp-{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)

        def write(frame, name):
            table = pa.Table.from_pandas(
                frame[["url", "warc_ts", "html", "lang"]], preserve_index=False
            )
            pq.write_table(table, os.path.join(tmp, name), coerce_timestamps="us")

        write(pool.iloc[: self.n_docs], "base.parquet")
        by_url = pool.set_index("url", drop=False)
        self.docs, self.base_urls = pool, pool["url"].iloc[: self.n_docs].tolist()  # for fresh/resend_urls
        for i in range(MAX_APPENDS):
            urls = self.fresh_urls(i) + self.resend_urls(i)
            write(by_url.loc[urls], f"append-{i}.parquet")
        docs = pool[["url", "text", "lang", "title", "release_date"]].rename(
            columns={"release_date": "date"}
        )
        docs.insert(0, "doc_id", [xxhash64_str(u) for u in docs["url"]])
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), os.path.join(tmp, "docs.parquet"))
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write("ok\n")
        shutil.rmtree(self.dir, ignore_errors=True)  # a partial earlier attempt
        os.replace(tmp, self.dir)
