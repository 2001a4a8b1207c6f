"""Model-based test for the native sink, with 4 buckets and with the
default single bucket: a seeded-random sequence of loader operations
runs against BOTH the sink and an in-memory reference model, comparing
full table contents at every step. This is the storage-layer analogue
of the property tests — interleavings (append → upsert → compact →
replay → reopen → truncate → append …) that targeted unit tests don't
enumerate.

Model semantics (the loader contract):
- insert(rows): multiset-append.
- insert_batch(rows, id): append iff id hasn't been applied
  (replays of any already-applied id are no-ops).
- upsert(rows): delete every model row whose key appears in the
  batch, then append ALL batch rows (reference keep-all semantics).
- trunc_insert(rows): replace the table.
- compact(): physical-only; contents must not change.
- reopen: a fresh NativeTableSink on the same root sees everything.
"""

from __future__ import annotations

import random

import pytest

from rs_streamloader_spark.sinks.native import NativeTableSink

N_BUCKETS = 4  # few buckets → dense bucket collisions
KEY_SPACE = 40  # small key space → frequent upsert overlaps


def _df(spark, rows):
    return spark.createDataFrame(rows, "id INT, payload STRING")


def _read_sorted(sink):
    return sorted((r.id, r.payload) for r in sink.read().collect())


@pytest.mark.parametrize("seed", [7, 1234, 987654])
def test_random_op_sequences_match_model(spark, tmp_path, seed):
    _run_model(spark, str(tmp_path / f"tbl_{seed}"), seed, N_BUCKETS)


@pytest.mark.parametrize("seed", [7, 1234, 987654])
def test_random_op_sequences_match_model_default_sink(spark, tmp_path, seed):
    """The same sequences on a default-constructed (one-bucket) sink."""
    _run_model(spark, str(tmp_path / f"tbl_{seed}"), seed, None)


def _run_model(spark, root, seed, num_buckets):
    rng = random.Random(seed)
    sink = NativeTableSink(spark, root, num_buckets=num_buckets, bucket_by="id")
    model: list[tuple[int, str]] = []
    applied_batches: set[int] = set()
    next_batch = 0
    tag = 0

    def rows(n):
        nonlocal tag
        tag += 1
        return [
            (rng.randrange(KEY_SPACE), f"s{seed}_t{tag}_{i}") for i in range(n)
        ]

    ops = ["insert", "insert_batch", "replay", "upsert", "trunc", "compact", "reopen"]
    for step in range(22):
        op = rng.choice(ops)
        if op == "insert":
            batch = rows(rng.randrange(1, 6))
            sink.insert(_df(spark, batch))
            model.extend(batch)
        elif op == "insert_batch":
            batch = rows(rng.randrange(1, 6))
            sink.insert_batch(_df(spark, batch), batch_id=next_batch)
            if next_batch not in applied_batches:
                applied_batches.add(next_batch)
                model.extend(batch)
            next_batch += 1
        elif op == "replay" and applied_batches:
            # replay an already-applied id with DIFFERENT rows: must no-op
            replay_id = max(applied_batches)
            sink.insert_batch(_df(spark, rows(3)), batch_id=replay_id)
        elif op == "upsert":
            batch = rows(rng.randrange(1, 5))
            sink.upsert(_df(spark, batch), id_field="id")
            batch_ids = {i for i, _ in batch}
            model = [r for r in model if r[0] not in batch_ids] + batch
        elif op == "trunc":
            batch = rows(rng.randrange(1, 5))
            sink.trunc_insert(_df(spark, batch))
            model = list(batch)
        elif op == "compact":
            sink.compact()
        elif op == "reopen":
            if sink.exists():
                # spec persists on first write; after that a bare
                # reopen must recover the bucket layout by itself
                sink = NativeTableSink(spark, root)
            else:
                # pre-write reopen = creation: args required (the
                # documented contract — the spec doesn't exist yet)
                sink = NativeTableSink(
                    spark, root, num_buckets=num_buckets, bucket_by="id"
                )
            assert sink.num_buckets == (num_buckets or 1)
        if model or sink.exists():
            assert _read_sorted(sink) == sorted(model), f"step {step}: {op}"
    # end state must also survive a final compact + reopen
    sink.compact()
    sink = NativeTableSink(spark, root)
    assert _read_sorted(sink) == sorted(model)
