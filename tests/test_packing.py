"""Sequence packing (operators/packing.py).

Oracle equality runs in test_queries_oracle (q_pack_manifest vs the SQL
cumsum restatement). Here: tiling invariants, the two-phase prefix sum vs
a sequential reference, partition-count invariance, and the plan guarantee
that no single-partition global window exists."""

import pyspark.sql.functions as F

from anycrawl_spark.operators.packing import (
    pack_documents,
    pack_manifest,
    with_global_offsets,
)


def _docs(spark, sizes):
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(n))) for i, n in enumerate(sizes)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_offsets_match_sequential_reference(spark):
    sizes = [3, 0, 7, 1, 64, 2, 130, 5, 0, 9, 64, 1]
    df = spark.createDataFrame(list(enumerate(sizes)), ["doc_id", "n_tokens"])
    got = {r["doc_id"]: r["start_tok"]
           for r in with_global_offsets(df).collect()}
    acc = 0
    for i, n in enumerate(sizes):
        assert got[i] == acc, (i, got[i], acc)
        acc += n


def test_offsets_match_sequential_reference_past_range_sample(spark):
    """Each input partition holds more rows than RangePartitioner samples
    from it, so the range bounds depend on the sampler's seed, which changes
    per evaluation: both phases must read ONE materialized repartition."""
    n = 6_400
    sizes = [(i * 7919) % 97 for i in range(n)]
    df = spark.createDataFrame(list(enumerate(sizes)), ["doc_id", "n_tokens"]) \
        .repartition(8)
    got = {r["doc_id"]: r["start_tok"]
           for r in with_global_offsets(df, partitions=4).collect()}
    acc, wrong = 0, 0
    for i, k in enumerate(sizes):
        wrong += got[i] != acc
        acc += k
    assert len(got) == n and wrong == 0, f"{wrong} of {n} offsets wrong"


def test_offsets_invariant_to_partition_count(spark):
    sizes = list(range(0, 40))
    df = spark.createDataFrame(list(enumerate(sizes)), ["doc_id", "n_tokens"])
    a = {r["doc_id"]: r["start_tok"]
         for r in with_global_offsets(df, partitions=1).collect()}
    b = {r["doc_id"]: r["start_tok"]
         for r in with_global_offsets(df, partitions=7).collect()}
    c = {r["doc_id"]: r["start_tok"]
         for r in with_global_offsets(df, partitions=32).collect()}
    assert a == b == c


def test_manifest_tiles_stream_and_docs(spark):
    sizes = [10, 64, 1, 100, 0, 37, 64, 3]
    df = _docs(spark, sizes)
    B = 64
    rows = pack_manifest(df, budget=B).collect()
    total = sum(n for n in sizes)
    # every pack except the last is exactly full, the last holds the tail
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r["pack_id"], []).append(r)
    n_packs = (total + B - 1) // B
    assert set(by_pack) == set(range(n_packs))
    for p, slices in by_pack.items():
        want = B if p < n_packs - 1 else total - (n_packs - 1) * B
        assert sum(s["slice_len"] for s in slices) == want
        # slices within a pack are contiguous and non-overlapping
        spans = sorted((s["pack_tok_start"], s["slice_len"]) for s in slices)
        pos = 0
        for st, ln in spans:
            assert st == pos and ln > 0
            pos += ln
    # every doc's slices cover [0, n) contiguously
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, n in enumerate(sizes):
        if n == 0:
            assert i not in by_doc  # zero-token docs occupy no pack
            continue
        spans = sorted((s["doc_tok_start"], s["slice_len"]) for s in by_doc[i])
        pos = 0
        for st, ln in spans:
            assert st == pos
            pos += ln
        assert pos == n


def test_pack_summary_bounds(spark):
    df = _docs(spark, [62, 4, 64, 1])
    out = {r["doc_id"]: r for r in pack_documents(df, budget=64).collect()}
    assert (out[0]["first_pack"], out[0]["last_pack"]) == (0, 0)
    assert (out[1]["first_pack"], out[1]["last_pack"]) == (0, 1)  # straddles
    assert (out[2]["first_pack"], out[2]["last_pack"]) == (1, 2)
    assert (out[3]["first_pack"], out[3]["last_pack"]) == (2, 2)


def test_plan_never_single_partition(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = pack_manifest(df, budget=64)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SinglePartition" not in plan, (
        "global prefix sum must be two-phase, never a single-partition window"
    )
    assert "Window" in plan  # the intra-partition cumsum is still a window
