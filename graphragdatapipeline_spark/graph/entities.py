"""Entity resolution (record linkage) — the canonical-entity step a
GraphRAG ingestion runs before graph construction: raw mentions of the
same real-world entity (name variants, near-identical records) are
linked and collapsed to one canonical id, so edges aggregate on
entities instead of spelling variants. The reference merges entities
by exact name-or-alias equality during graph build
(defs/assets/ingest_graph_db.py:225-290 — MERGE on natural keys;
alias lists collected at extract_artists.py:210-240); this module is
the fuzzy generalization: blocking → multi-attribute match rule →
transitive closure → canonical survivor.

Scale shape (the classic ER pipeline, e.g. Fellegi–Sunter blocking):
pair generation is an equi-join on the BLOCKING key — records in
different blocks never meet, so cost is Σ|block|² instead of n².
``max_block`` drops degenerate mega-blocks before the self-join (the
same guardrail philosophy as the dedup layer's max_bucket /
max_posting: a block with millions of members is a data-quality
problem to triage, not a pairwise-scoring problem). Transitive closure
runs on the MATCH-PAIR graph — far smaller than the record set — via
the shared Hash-Min components operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphragdatapipeline_spark.text.analysis import tokens_ws


def candidate_pairs(
    records: DataFrame,
    id_col: str,
    block_col: str,
    max_block: int | None = None,
    band_col: str | None = None,
    band_gap: int = 0,
    prefix_col: str | None = None,
) -> DataFrame:
    """(a, b) candidate pairs (a < b) from an equi-self-join on the
    blocking key, with every non-key column of both sides preserved
    as a_<col> / b_<col> for downstream match rules.

    When the match rule carries a numeric proximity constraint
    (|a.band − b.band| ≤ band_gap), pass ``band_col``: the join key
    becomes (block, band) with the A side exploded into band offsets
    −gap..+gap, so each qualifying pair collides on EXACTLY ONE key
    (offset = b.band − a.band) and pairs outside the gap never meet.
    This shrinks candidate volume from Σ|block|² to
    (2·gap+1)·Σ|cell|² — the sorted-neighborhood trick as an equi
    join, which is what survives at 100 TB where the similarity
    filter would otherwise evaluate on every in-block pair.

    ``prefix_col`` names an array<string> column of PREFIX-FILTER
    tokens (AllPairs/PPJoin, Xiao et al., WWW'08): both sides explode
    it into the join key, so two records meet only when they share a
    prefix token. With prefixes built for a Jaccard threshold t
    (see :func:`jaccard_prefix_col`), the filter is RECALL-PRESERVING
    — every pair with Jaccard ≥ t shares its df-smallest common token
    in both prefixes — so downstream match output is bit-identical
    while Σ|cell|² drops by the vocabulary's selectivity. Pairs that
    collide on several shared prefix tokens are deduplicated here on
    the BARE id pair, and only then are payload columns re-attached
    by two id-keyed joins (merge-hinted: the record table is
    corpus-sized and its compressed shuffle bytes must never bait AQE
    into a broadcast — the jaccard_pairs lesson). The earlier shape
    carried both sides' token+prefix arrays through the collision
    dropDuplicates, making the dedup hash state payload-sized —
    measured OOM at the 100× fixture (clone density 100 ⇒ ~10⁸
    payload-heavy pair rows); id pairs are 16 bytes each and the
    payload joins are linear. Output is identical: payloads are
    functionally determined by the ids."""
    if max_block is not None:
        keep = (
            records.groupBy(block_col)
            .agg(F.count(F.lit(1)).alias("_bs"))
            .filter(F.col("_bs") <= max_block)
            .select(block_col)
        )
        records = records.join(keep, block_col, "left_semi")
    cols = [c for c in records.columns if c != block_col]
    # Pair generation runs SLIM when the prefix filter multiplies key
    # collisions: only the id + join-key columns enter the self-join.
    join_cols = (
        cols
        if prefix_col is None
        else [
            c
            for c in (id_col, band_col, prefix_col)
            if c is not None and c in records.columns
        ]
    )
    a = records.select(block_col, *[F.col(c).alias(f"a_{c}") for c in join_cols])
    b = records.select(block_col, *[F.col(c).alias(f"b_{c}") for c in join_cols])
    keys = [block_col]
    if band_col is not None:
        offsets = F.array(*[F.lit(o) for o in range(-band_gap, band_gap + 1)])
        a = a.withColumn(
            "_band",
            F.explode(F.transform(offsets, lambda o: F.col(f"a_{band_col}") + o)),
        )
        b = b.withColumn("_band", F.col(f"b_{band_col}"))
        keys.append("_band")
    if prefix_col is not None:
        a = a.withColumn("_ptok", F.explode(F.col(f"a_{prefix_col}")))
        b = b.withColumn("_ptok", F.explode(F.col(f"b_{prefix_col}")))
        keys.append("_ptok")
    out = (
        a.join(b, keys)
        .filter(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
        .drop("_band", "_ptok")
    )
    if prefix_col is None:
        return out
    pair_ids = out.select(f"a_{id_col}", f"b_{id_col}").dropDuplicates()
    a_full = records.select(block_col, *[F.col(c).alias(f"a_{c}") for c in cols])
    b_full = records.select(*[F.col(c).alias(f"b_{c}") for c in cols])
    return (
        pair_ids.join(a_full.hint("merge"), f"a_{id_col}")
        .join(b_full.hint("merge"), f"b_{id_col}")
        .select(block_col, *[f"a_{c}" for c in cols], *[f"b_{c}" for c in cols])
    )


def jaccard_prefix_col(
    records: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold_micro: int,
) -> DataFrame:
    """Attach ``_prefix``: each record's first |ts| − ⌈t·|ts|⌉ + 1
    tokens under the global (document-frequency asc, token asc) order
    — the AllPairs/PPJoin prefix for Jaccard threshold t (micro-int
    ``threshold_micro`` = t·10⁶, the same exact arithmetic the match
    rule uses). Records with an EMPTY token set get the sentinel
    prefix [""] (real tokens are never empty strings), because under
    the micro-int rule 0 ≥ t·0 two empty sets DO match — dropping
    them from pairing would change output.

    Cost shape at 100 TB: one token-keyed count (vocabulary-sized
    output), one re-aggregation keyed by record id — both linear
    one-pass shuffles, traded against a quadratic candidate-volume
    cut in the blocked self-join downstream."""
    toks = records.select(F.col(id_col).alias("_pid"), F.explode(tokens_col).alias("_tok"))
    dfreq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    ordered = (
        toks.join(dfreq, "_tok")
        .groupBy("_pid")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_tok"))).alias("_o"))
        .withColumn(
            "_p",
            F.expr(
                f"CAST(size(_o) - (size(_o) * {threshold_micro} + 999999)"
                " DIV 1000000 + 1 AS INT)"
            ),
        )
        .select(
            "_pid",
            F.expr("transform(slice(_o, 1, _p), x -> x._tok)").alias("_prefix"),
        )
    )
    return (
        records.join(ordered, records[id_col] == ordered["_pid"], "left")
        .drop("_pid")
        .withColumn("_prefix", F.coalesce("_prefix", F.array(F.lit(""))))
    )


def resolve_entities(
    records: DataFrame,
    id_col: str,
    name_col: str,
    block_col: str,
    size_col: str | None = None,
    name_jaccard: float = 0.5,
    max_size_gap: int = 1,
    max_block: int | None = None,
    prefix_filter: bool = True,
) -> DataFrame:
    """Resolve records to canonical entities → (id, canonical_id,
    cluster_size, canonical_name).

    Match rule (within a block): token-set Jaccard of the lowercased
    names ≥ ``name_jaccard`` — compared as the integer inequality
    |∩|·10⁶ ≥ threshold·10⁶·|∪| so both engines decide identically —
    and, when ``size_col`` is given, |size difference| ≤ max_size_gap.
    Matches are closed transitively (A~B, B~C ⇒ one entity even though
    A~C may fail the rule — the survivorship semantics every MDM
    system uses); canonical_id is the min member id and
    canonical_name that member's name, so every variant maps to one
    stable survivor record.

    ``prefix_filter`` (default on) adds the recall-preserving
    AllPairs/PPJoin token prefix to the candidate join key: output is
    bit-identical (every qualifying pair still meets, pinned by a
    Hypothesis equivalence property; auto-bypassed when
    int(name_jaccard·10⁶) == 0, where the match rule accepts even
    token-disjoint pairs and no prefix is recall-preserving), but
    in-cell candidate density
    scales with token selectivity instead of raw cell population —
    the knob that keeps blocked ER sub-quadratic when the corpus
    grows under a FIXED blocking cardinality."""
    from graphragdatapipeline_spark.operators.dedup import dup_cluster_assignments

    toks = records.withColumn("_ts", F.array_distinct(tokens_ws(F.col(name_col))))
    narrowed = toks.select(id_col, block_col, "_ts", *([size_col] if size_col else []))
    prefix_col = None
    threshold_micro = int(name_jaccard * 1_000_000)
    # At threshold_micro == 0 the match rule |∩|·10⁶ ≥ 0·|∪| accepts
    # EVERY in-block pair, including token-disjoint ones — but disjoint
    # pairs share no token, so no prefix scheme can make them meet. The
    # prefix filter is only recall-preserving for t > 0; below that it
    # must be bypassed (the degenerate block self-join IS the answer).
    if prefix_filter and threshold_micro > 0:
        narrowed = jaccard_prefix_col(narrowed, id_col, "_ts", threshold_micro)
        prefix_col = "_prefix"
    pairs = candidate_pairs(
        narrowed,
        id_col,
        block_col,
        max_block=max_block,
        band_col=size_col,
        band_gap=max_size_gap,
        prefix_col=prefix_col,
    )
    inter = F.size(F.array_intersect(F.col("a__ts"), F.col("b__ts")))
    union = F.size(F.array_union(F.col("a__ts"), F.col("b__ts")))
    match = inter * F.lit(1_000_000) >= F.lit(int(name_jaccard * 1_000_000)) * union
    if size_col is not None:
        match = match & (
            F.abs(F.col(f"a_{size_col}") - F.col(f"b_{size_col}")) <= max_size_gap
        )
    matched = pairs.filter(match).select(
        F.col(f"a_{id_col}").alias("a"), F.col(f"b_{id_col}").alias("b")
    )
    clusters = dup_cluster_assignments(records, matched, id_col)
    canon = records.select(
        F.col(id_col).alias("cluster_id"), F.col(name_col).alias("canonical_name")
    )
    return (
        clusters.join(canon, "cluster_id")
        .select(
            id_col,
            F.col("cluster_id").alias("canonical_id"),
            "cluster_size",
            "canonical_name",
        )
    )
