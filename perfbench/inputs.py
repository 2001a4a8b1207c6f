"""Seeded inputs for the benchmark workloads.

Everything the program under test receives is made here from the
workload seed, so the same seed gives the same inputs. The benchmark
also keeps what it needs to check the outputs (the latest row per key,
the planted corpus rates) from the same generators.
"""

from __future__ import annotations

import json
import os

import numpy as np

# the reference's loader_rows fixture (FIXTURES.md §1) plus a per-row
# sequence number: ``seq`` is the first column after the key, so the
# sink's ``dedupe="last"`` (highest remaining-columns struct wins)
# keeps the row with the highest seq, i.e. the latest one
SCHEMA_DDL = "id BIGINT, seq BIGINT, number DOUBLE, text STRING, created_at BIGINT"
DAY0_MS = 1_483_228_800_000  # 2017-01-01T00:00:00Z, FIXTURES.md §1
DAY_MS = 86_400_000


def base_row(i: int, seed: int) -> dict:
    """Row ``i`` of the seeded base table; ``base_frame`` builds the
    same rows in Spark."""
    return {
        "id": i,
        "seq": 0,
        "number": ((i * 7919 + seed) % 10000) / 100.0,
        "text": f"r{i}-{seed}",
        "created_at": DAY0_MS + i * DAY_MS,
    }


def base_frame(spark, n: int, seed: int):
    return spark.range(n).selectExpr(
        "id",
        "0L AS seq",
        f"CAST((id * 7919 + {int(seed)}) % 10000 AS DOUBLE) / 100D AS number",
        f"concat('r', id, '-{int(seed)}') AS text",
        f"{DAY0_MS}L + id * {DAY_MS}L AS created_at",
    )


def jsonl_bytes(rows: list[dict]) -> int:
    """Size of ``rows`` as compact JSON lines: the input-size base of
    ``write_amp`` on every workload."""
    return sum(len(json.dumps(r, separators=(",", ":"))) + 1 for r in rows)


class KeyedBatches:
    """Upsert bodies: each batch has ``rows`` rows over ``keys``
    distinct keys. Existing keys are drawn Zipf-skewed (exponent
    ``ZIPF_S``) over a seeded permutation of the base ids, so hot keys
    recur across batches; about ``NEW_SHARE`` of a batch's keys are new.
    ``latest`` is the expected table: the newest row of every key."""

    ZIPF_S = 1.1
    NEW_SHARE = 0.1

    def __init__(self, seed: int, n_base: int, rows: int, keys: int) -> None:
        self.rng = np.random.default_rng([seed, 1])
        self.seed = seed
        self.n_base = n_base
        self.rows = rows
        self.keys = keys
        self.rank_to_id = self.rng.permutation(n_base)
        w = 1.0 / np.arange(1, n_base + 1) ** self.ZIPF_S
        self.p = w / w.sum()
        self.next_new = n_base
        self.seq = 0
        self.latest: dict[int, dict] = {}

    def next_batch(self) -> list[dict]:
        n_new = int(self.rng.binomial(self.keys, self.NEW_SHARE))
        ranks = self.rng.choice(
            self.n_base, size=self.keys - n_new, replace=False, p=self.p
        )
        keys = [int(k) for k in self.rank_to_id[ranks]]
        keys += list(range(self.next_new, self.next_new + n_new))
        self.next_new += n_new
        picks = self.rng.integers(0, len(keys), size=self.rows)
        numbers = np.round(self.rng.random(self.rows) * 1000.0, 2)
        body = []
        for j in range(self.rows):
            self.seq += 1
            row = {
                "id": keys[picks[j]],
                "seq": self.seq,
                "number": float(numbers[j]),
                "text": f"u{self.seq}",
                "created_at": DAY0_MS + self.seq * 1000,
            }
            body.append(row)
            self.latest[row["id"]] = row
        return body

    def expected(self, i: int) -> dict:
        return self.latest.get(i) or base_row(i, self.seed)


class AppendFiles:
    """Append rounds: each round is one JSON-lines file of ``rows``
    rows with new, consecutive ids above the base table."""

    def __init__(self, seed: int, n_base: int, rows: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.rows = rows
        self.next_id = n_base
        self.seq = 0

    def next_rows(self) -> list[dict]:
        numbers = np.round(self.rng.random(self.rows) * 1000.0, 2)
        out = []
        for j in range(self.rows):
            self.seq += 1
            out.append(
                {
                    "id": self.next_id + j,
                    "seq": self.seq,
                    "number": float(numbers[j]),
                    "text": f"a{self.seq}",
                    "created_at": DAY0_MS + self.seq * 1000,
                }
            )
        self.next_id += self.rows
        return out

    @staticmethod
    def land(rows: list[dict], tmp_dir: str, source_dir: str, name: str) -> int:
        """Write ``rows`` beside the source directory, then rename the
        file in, so the stream never lists a partial file. Returns the
        file's size in bytes."""
        tmp = os.path.join(tmp_dir, name)
        with open(tmp, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r, separators=(",", ":")) + "\n")
        size = os.path.getsize(tmp)
        os.rename(tmp, os.path.join(source_dir, name))
        return size


# the 30-word vocabulary of the sf* documents table; "the" and "a" are
# its only Gopher stopwords
_VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row the"
    " agg key query a scan batch"
).split()
_NO_STOP = [w for w in _VOCAB if w not in ("the", "a")]

# planted shares of the curation corpus (documents, then embeddings)
DOC_RATES = {
    "exact_dup": 0.05,  # verbatim copy of an earlier document
    "near_dup": 0.04,  # earlier document with one word replaced
    "too_short": 0.03,  # under 10 words (Gopher word-count rule)
    "no_stopwords": 0.03,  # none of the Gopher stopwords
    "long_words": 0.02,  # mean word length over 10
    "dominated": 0.02,  # one token is over a fifth of the words
}
VEC_NEAR_DUP = 0.05  # earlier vector plus small noise
EMB_DIM = 64


def write_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (the
    schemas of the sf* tables) under ``out_dir``. Returns the number
    of documents planted in each class and of near-duplicate vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    kinds = list(DOC_RATES)
    cut = np.cumsum([DOC_RATES[k] for k in kinds])
    planted = dict.fromkeys(kinds + ["clean"], 0)
    texts: list[str] = []
    for _ in range(n_docs):
        u = rng.random()
        k = int(np.searchsorted(cut, u, side="right"))
        kind = kinds[k] if k < len(kinds) else "clean"
        if kind in ("exact_dup", "near_dup") and not texts:
            kind = "clean"
        if kind == "exact_dup":
            t = texts[int(rng.integers(len(texts)))]
        elif kind == "near_dup":
            words = texts[int(rng.integers(len(texts)))].split(" ")
            words[int(rng.integers(len(words)))] = str(rng.choice(_VOCAB))
            t = " ".join(words)
        elif kind == "too_short":
            t = " ".join(rng.choice(_VOCAB, int(rng.integers(3, 9))))
        elif kind == "no_stopwords":
            t = " ".join(rng.choice(_NO_STOP, int(rng.integers(20, 80))))
        elif kind == "long_words":
            n = int(rng.integers(15, 40))
            t = " ".join(w * 4 for w in rng.choice(_VOCAB, n))
        elif kind == "dominated":
            n = int(rng.integers(20, 80))
            words = list(rng.choice(_VOCAB, n))
            for j in range(0, n, 3):
                words[j] = "merge"
            t = " ".join(words)
        else:
            t = " ".join(rng.choice(_VOCAB, int(rng.integers(15, 90))))
        planted[kind] += 1
        texts.append(t)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [("en", "de", "fr", "es", "zh")[i % 5] for i in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.normal(size=(n_vecs, EMB_DIM)).astype(np.float32)
    planted["vec_near_dup"] = 0
    for i in range(1, n_vecs):
        if rng.random() < VEC_NEAR_DUP:
            emb[i] = emb[int(rng.integers(i))] + rng.normal(
                scale=0.05, size=EMB_DIM
            ).astype(np.float32)
            planted["vec_near_dup"] += 1
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    vecs = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(vecs, os.path.join(out_dir, "embeddings.parquet"))
    return planted
