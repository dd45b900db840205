"""Training-export operators (queries/training_io.py): the guarantees
the oracle-parity hash alone doesn't pin — the distributed-ntile
formula vs Spark's own ntile, the Misra-Gries superset contract on an
adversarial stream, containment recall on planted subsets, shard
completeness of the written layout, and the epoch-census upsampling
invariants.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries import training_io as TIO
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table

from tests.conftest import SF_SMOKE


def test_curriculum_stage_formula_matches_builtin_ntile(spark):
    """The distributed rank->tile formula must reproduce Spark's own
    ntile(4) bit-for-bit on the same (difficulty, doc_id) order —
    including the uneven-remainder tiles when n % 4 != 0."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import text as TX

    m = TX.with_quality_metrics(load_table(spark, SF_SMOKE, "documents")).select(
        "doc_id", F.col("mean_token_len_x100").alias("d"), "n_tokens"
    )
    truth = (
        m.withColumn("stage", F.ntile(4).over(Window.orderBy("d", "doc_id")))
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
        )
    )
    ours = TIO.q_curriculum(spark, SF_SMOKE)
    t = {r["stage"]: r.asDict() for r in truth.collect()}
    o = {r["stage"]: r.asDict() for r in ours.collect()}
    assert t == o


def test_curriculum_remainder_tiles_uneven_n(spark):
    """n=10 into 4 tiles -> sizes (3,3,2,2): the first n%4 tiles get
    the extra row. Exercises the ELSE branch of the tile formula."""
    df = spark.range(10).select(
        F.col("id").alias("rank"), F.lit(10).alias("n_total")
    )
    stage = F.expr(
        """
        CASE WHEN rank <= (n_total % 4) * (n_total div 4 + 1)
             THEN (rank - 1) div (n_total div 4 + 1) + 1
             ELSE (n_total % 4)
                  + (rank - (n_total % 4) * (n_total div 4 + 1) - 1)
                    div (n_total div 4) + 1
        END
        """
    )
    out = (
        df.withColumn("rank", F.col("rank") + 1)
        .withColumn("stage", stage)
        .groupBy("stage")
        .count()
        .orderBy("stage")
        .collect()
    )
    assert [(r["stage"], r["count"]) for r in out] == [
        (1, 3),
        (2, 3),
        (3, 2),
        (4, 2),
    ]


def test_mg_candidates_retain_every_true_heavy_hitter(spark):
    """Adversarial MG input: two hot items buried in a long unique
    tail, spread over several partitions. Every item with global share
    > 1/50 must survive the per-partition sketches (superset
    contract); the sketch output stays bounded."""
    n = 20_000
    items = spark.range(n).repartition(8).select(
        F.when(F.col("id") % 4 == 0, F.lit("hotA"))
        .when(F.col("id") % 7 == 0, F.lit("hotB"))
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
        .alias("item")
    )
    cand = {r["item"] for r in TIO._mg_candidates(items).distinct().collect()}
    assert "hotA" in cand and "hotB" in cand
    # bounded: <= capacity x partitions
    assert len(cand) <= TIO._MG_CAPACITY * 8


def test_heavy_hitters_exact_equals_full_groupby(spark):
    """The two-pass result must equal the naive full groupBy answer."""
    full = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            F.when(
                F.col("event_id") % 3 == 0,
                F.concat(F.lit("hot_"), (F.col("event_id") % 2).cast("string")),
            )
            .otherwise(
                F.concat(
                    F.lit("cold_"), (F.col("event_id") % 1000).cast("string")
                )
            )
            .alias("item")
        )
        .groupBy("item")
        .count()
    )
    n_total = full.agg(F.sum("count")).collect()[0][0]
    truth = {
        r["item"]: r["count"]
        for r in full.collect()
        if r["count"] * 50 > n_total
    }
    ours = {
        r["item"]: r["n_occ"]
        for r in TIO.q_heavy_hitters(spark, SF_SMOKE).collect()
    }
    assert truth == ours and len(ours) >= 1


def test_containment_finds_every_planted_quote(spark):
    """Each planted quote doc (id+1000000) is a shingle SUBSET of its
    source doc -> containment exactly 1e6 ppm, and the inverted-index
    prune may not lose any of them."""
    pairs = {
        (r["doc_a"], r["doc_b"]): r["containment_ppm"]
        for r in TIO.q_containment(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents")
    quoted = [
        r["doc_id"] for r in docs.filter(F.col("doc_id") % 7 == 0).collect()
    ]
    assert quoted, "fixture should contain docs with doc_id % 7 == 0"
    for src in quoted:
        assert pairs.get((src + 1000000, src)) == 1_000_000


def test_shard_manifest_covers_corpus_and_orders_within_shards(spark):
    """Manifest doc counts must sum to the corpus size; per-shard key
    ranges must not overlap across shards (shard = first hex nibble of
    the key, so ranges partition the keyspace)."""
    rows = TIO.q_shard_manifest(spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["first_key"].startswith(r["shard"])
        assert r["last_key"].startswith(r["shard"])
        assert r["first_key"] <= r["last_key"]


def test_mix_epochs_upsampling_invariants(spark):
    """Full epochs carry the whole source; the fractional epoch is a
    strict subset; 0.4x sources appear only in epoch 0 as a subset."""
    out = {
        (r["source"], r["epoch"]): r["n_docs"]
        for r in TIO.q_mix_epochs(spark, SF_SMOKE).collect()
    }
    base = {
        r["source"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for src, n in base.items():
        sn = int(src[3:])
        if sn < 5:
            assert out[(src, 0)] == n and out[(src, 1)] == n
            assert 0 < out.get((src, 2), 0) <= n
            assert (src, 3) not in out
        elif sn < 10:
            assert out[(src, 0)] == n
            assert (src, 1) not in out
        else:
            assert out.get((src, 0), 0) <= n
            assert (src, 1) not in out


def test_link_rank_floor_and_copy_symmetry(spark):
    """Every node's rank is >= the damping floor (150000 ppm); planted
    exact copies (id+1e6) share their original's full neighborhood at
    jaccard 1e6, so where both rank in the top-100, scores agree to
    within the floor-division truncation of 3 rounds."""
    rows = {
        r["doc_id"]: r["rank_ppm"]
        for r in TIO.q_link_rank(spark, SF_SMOKE).collect()
    }
    assert rows and all(v >= 150000 for v in rows.values())
    for doc_id, r in rows.items():
        base_id = doc_id % 1_000_000
        twin = base_id + 1_000_000 if doc_id < 1_000_000 else base_id
        if base_id % 10 == 0 and twin in rows:
            assert abs(rows[twin] - r) <= 5  # truncation slack


def test_curriculum_tile_formula_parametric(spark):
    """The rank->tile formula equals ntile(4) for EVERY corpus size
    n in 1..40 — one frame, one partitioned window: rows (n, rank)
    for rank<=n, truth = ntile over PARTITION BY n."""
    pairs = spark.range(1, 41).selectExpr("id AS n_total").selectExpr(
        "n_total", "explode(sequence(1, n_total)) AS rank"
    )
    truth = F.ntile(4).over(Window.partitionBy("n_total").orderBy("rank"))
    formula = F.expr(
        """
        CASE WHEN rank <= (n_total % 4) * (n_total div 4 + 1)
             THEN (rank - 1) div (n_total div 4 + 1) + 1
             ELSE (n_total % 4)
                  + (rank - (n_total % 4) * (n_total div 4 + 1) - 1)
                    div (n_total div 4) + 1
        END
        """
    )
    bad = (
        pairs.withColumn("t", truth)
        .withColumn("f", formula)
        .filter(F.col("t") != F.col("f"))
        .count()
    )
    assert bad == 0


def test_stream_sample_batch_boundary_invariance(spark, tmp_path):
    """The bottom-k fold must be invariant to micro-batch slicing:
    draining the same source 1 file per trigger vs 4 files per trigger
    yields byte-identical samples (the commutative-fold property on a
    real stream, not just in algebra)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
        delta as D,
        sample as SS,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)
    outs = []
    for mft in (1, 4):
        base = tmp_path / f"run_{mft}"
        sample = D.partial_stream(
            spark,
            src,
            "doc_id bigint, source string",
            base,
            lambda b: SS._bottom_k(SS._keyed(b)),
            SS._bottom_k,
            max_files=mft,
        )
        outs.append(sorted(tuple(r) for r in sample.collect()))
    assert outs[0] == outs[1] and len(outs[0]) > 0


# ---------------------------------------------------------------------------
# E24 content-defined chunking: semantic invariants (round 6)
# ---------------------------------------------------------------------------

def _py_chunks(tokens: list[str]) -> list[str]:
    """Pure-python mirror of the E24 chunking rule: a chunk starts at
    position 1 and at every token whose sha256 hex starts with '0'."""
    import hashlib

    starts = [0] + [
        i
        for i, t in enumerate(tokens)
        if i > 0 and hashlib.sha256(t.encode()).hexdigest()[0] == "0"
    ]
    if tokens and hashlib.sha256(tokens[0].encode()).hexdigest()[0] == "0":
        pass  # position 1 is already a start; dedup keeps it once
    out = []
    for j, s in enumerate(starts):
        e = starts[j + 1] if j + 1 < len(starts) else len(tokens)
        out.append(" ".join(tokens[s:e]))
    return out


def test_content_chunks_reconstruct_and_resync_property():
    """Hypothesis sweep of the chunking rule itself (python mirror of
    the SQL expressions, engine equality is pinned separately):
    (1) joining the chunks back reproduces the document, and
    (2) shift-robustness — prepending a token leaves every chunk from
    the original's first boundary onward IDENTICAL (the resync
    property that makes content-defined beat fixed-size chunking)."""
    from hypothesis import given, settings, strategies as st

    word = st.text(alphabet="abcdefgh", min_size=1, max_size=6)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(word, min_size=1, max_size=40))
    def prop(tokens):
        chunks = _py_chunks(tokens)
        assert " ".join(chunks) == " ".join(tokens)  # reconstruction
        shifted = _py_chunks(["PFX"] + tokens)
        # every chunk of the original that starts AT a boundary must
        # reappear verbatim in the shifted doc's chunks
        import hashlib

        boundary_chunks = [
            c
            for j, c in enumerate(chunks)
            if j > 0  # chunk 0 starts at position 1, not at a boundary
        ]
        for c in boundary_chunks:
            assert c in shifted, (tokens, c)

    prop()


def test_content_chunks_spark_matches_python_reference(spark, tmp_path):
    """The Spark chunk derivation must agree with the python mirror on
    a planted mini-corpus (ties the hypothesis-swept rule to the real
    code path; cross-engine equality is pinned by the DuckDB gate)."""
    import hashlib

    rows = [
        (1, "aa bb cc dd ee ff gg hh"),
        (2, "0none boundary first maybe"),
        (3, "solo"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunked = (
        docs.withColumn("t", F.split("text", " "))
        .withColumn(
            "starts",
            F.expr(
                "array_distinct(concat(array(1), filter("
                "sequence(1, size(t)), "
                "i -> substring(sha2(element_at(t, i), 256), 1, 1) = '0')))"
            ),
        )
        .select(
            "doc_id",
            F.expr(
                "transform(starts, (s, j) -> concat_ws(' ', "
                "slice(t, s, IF(j + 1 < size(starts), "
                "element_at(starts, j + 2) - s, size(t) - s + 1))))"
            ).alias("chunks"),
        )
        .collect()
    )
    got = {r["doc_id"]: list(r["chunks"]) for r in chunked}
    want = {i: _py_chunks(text.split(" ")) for i, text in rows}
    assert got == want


def test_edit_neardup_levenshtein_matches_python_reference(spark):
    """Spark's levenshtein (threshold variant) must agree with a
    classic DP reference on random pairs — the verify kernel the E2i
    detector's correctness rests on (DuckDB agreement is pinned at the
    gate; this pins the threshold semantics: exact value within the
    threshold, -1 beyond it)."""
    import random

    rng = random.Random(42)

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    pairs = []
    for _ in range(60):
        a = "".join(rng.choice("abcd ") for _ in range(rng.randint(0, 30)))
        b = a
        for _ in range(rng.randint(0, 6)):  # mutate a few positions
            if b and rng.random() < 0.5:
                k = rng.randrange(len(b))
                b = b[:k] + rng.choice("abcd ") + b[k + 1:]
            else:
                b += rng.choice("abcd")
        pairs.append((a, b))
    df = spark.createDataFrame(pairs, "a string, b string")
    got = [
        (r["d"], r["dt"])
        for r in df.select(
            F.levenshtein("a", "b").alias("d"),
            F.levenshtein("a", "b", 15).alias("dt"),
        ).collect()
    ]
    want = [(lev(a, b), lev(a, b) if lev(a, b) <= 15 else -1) for a, b in pairs]
    assert got == want


def test_stream_pii_invariant_to_batch_boundaries(spark, tmp_path):
    """The streamed PII census must equal the batch census regardless
    of how the backlog splits into micro-batches (per-source sums over
    disjoint doc sets fold by addition)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import pii as P
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta as D

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    want = sorted(
        tuple(r)
        for r in P.rollup(P.doc_metrics(P.with_planted_pii(docs))).collect()
    )
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)
    outs = []
    for mft in (1, 4):
        base = tmp_path / f"run_{mft}"
        census = D.partial_stream(
            spark,
            src,
            "doc_id bigint, source string, text string",
            base,
            lambda b: P.rollup(P.doc_metrics(P.with_planted_pii(b))),
            P.fold_rollups,
            max_files=mft,
        )
        outs.append(sorted(tuple(r) for r in census.collect()))
    assert outs[0] == outs[1] == want and len(want) > 0
