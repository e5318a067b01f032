#!/usr/bin/env python
"""Materialize an sf1.0-scale fixture by disjoint key-shifted 10×
replication of sf0.1 — the SCALE.md methodology, now covering every
driver table so the full headline bench can run at 10× data.

Each fact replica i shifts its keys by i × (max_key + 1), so joins
stay consistent inside a replica and NEVER match across replicas
(result cardinalities scale exactly 10×). Dimension tables
(nation/region) are copied 1× — at 100 TB dims stay small and
broadcast; inflating them would distort the join shapes the bench is
meant to measure. The embeddings query vector (vec_id = 0) exists
only in replica 0, keeping k-NN queries well-defined.

Usage: python scripts/make_scale_fixture.py [SRC_SF_DIR] [DST_DIR] [FACTOR] [MODE]
Defaults: /root/testdata/sf0.1 → /tmp/sf1.0 × 10, MODE=uniform.

MODE=mutate de-degenerates the DOCUMENTS decades for composed-curation
load tests (round-10 verdict #3): plain key-shift replication clones
text VERBATIM, so a composed pipeline's exact-dedup stage collapses
every decade back to the original ~5k distinct docs and the downstream
stages never see a decade-scaled survivor set. Mutate keeps replica 0
pristine and applies deterministic token-level noise to replicas i>0,
in two hash-assigned tiers:

- 82% HEAVY (45% of token positions replaced): 3-gram shingle survival
  0.55³≈0.17 → Jaccard vs the original ≈0.17/1.83≈0.09, BELOW the 0.2
  near-dup threshold — these replicas SURVIVE both dedup stages, so
  the quality/decontaminate/split/pack stages see decade-scaled rows.
  Noise fillers carry a per-DOC tag (r12 — see _apply_mutation for
  why per-replica tags made the substring stage gut the corpus and
  the classifier labels collapse), so cross-replica mutants share
  only surviving-original runs ≈3% of shingles — not near-dups of
  each other either — and keep unique content through span removal.
- 10% LIGHT (4% of positions): Jaccard ≈0.88³/(2−0.88³)≈0.52 → real
  decade-scaled NEAR-DUP work for the verify stage (candidates that
  must be Jaccard-scored and then dropped).
- 8% JUNK (carved from the heavy tier, r12 — the r11 verdict's
  "classifier gate is vacuous at the decades" item): 55% of token
  positions replaced with 11-char replica-tagged fillers, driving
  mean_word_len to ~8 ≫ the Gopher long_words threshold (5.0) while
  shingle survival 0.45³≈0.09 keeps them BELOW both dedup thresholds —
  so they reach the trained-classifier stage carrying a rule-gate
  fail label. That gives the distilled logistic gate a separable,
  scale-proportional negative class at every decade: without it the
  noised corpus was all-positive, the sigmoid saturated at 1.0 for
  every row, and the above-corpus-mean cut dropped ~0 docs at
  10×/100× (the gate's bite was only evidenced at sf0.01).

The heavy/light noise vocabulary is 7 stopwords + 25 short doc-tagged
fillers, so the Gopher gate features stay in range (stopword_ratio
~0.22 among replaced tokens, filler length ~4-5 chars) and
heavy/light mutants are not spuriously gate-killed; the junk
vocabulary is 25 LONG (~11-char) doc-tagged fillers for the opposite
reason. Only `documents` is mutated; other tables get the plain
uniform key-shift.

MODE=zipf adds scale-GROWING hot-key skew on top of the replication —
the hazard class uniform replication cannot produce (with disjoint
key shifts every key's frequency inflates by the same factor, so AQE
skew splits and the mega-key guardrails never trigger harder at 10×
than at 1×). The zipf transforms keep hot keys GLOBAL across replicas,
so a hot key's row count grows linearly with FACTOR:

- events.user_id: 50% of rows remap (deterministically, by event_id
  hash) onto 32 global hot users with zipf(s=1) frequencies — the
  hottest user owns ~6% of ALL events at any scale. Stresses
  join_skew_salted, rolling-distinct, funnel/session state.
- part.p_brand: 20% of parts remap to one global mega-brand — the ER
  blocking key's Σ|block|² explodes unless max_block binds.
- documents.text: 5% of docs become one of 4 global ~64-word templates
  plus a per-doc unique token — shared shingles/minhash bands grow
  posting lists and LSH buckets with scale, the max_posting/max_bucket
  guardrail stress (near-dups, not exact dups, thanks to the token).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F  # noqa: E402

from graphragdatapipeline_spark.io import read_table  # noqa: E402
from graphragdatapipeline_spark.session import get_session  # noqa: E402

# table -> columns to shift (each by its own max+1 per replica)
SHIFT_COLS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": [],  # dims: copied once, never replicated
    "region": [],
}

# shared key domains must shift by the SAME base in every table that
# carries them, or cross-table joins break
KEY_DOMAIN = {
    "c_custkey": "custkey",
    "o_custkey": "custkey",
    "o_orderkey": "orderkey",
    "l_orderkey": "orderkey",
    "l_partkey": "partkey",
    "p_partkey": "partkey",
    "l_suppkey": "suppkey",
    "s_suppkey": "suppkey",
}


_MASS = 1_000_000
_ZIPF_HOT = 32


def _zipf_thresholds(n: int = _ZIPF_HOT, mass: int = _MASS) -> list[int]:
    """Cumulative inverse-CDF thresholds for zipf(s=1) over ranks
    1..n, scaled to integer mass (rank = 1 + #thresholds <= draw)."""
    h = sum(1.0 / r for r in range(1, n + 1))
    cum, out = 0.0, []
    for r in range(1, n + 1):
        cum += (1.0 / r) / h
        out.append(int(cum * mass))
    out[-1] = mass  # close the CDF against float rounding
    return out


def _hash_frac(col: str, seed: int):
    """Deterministic uniform draw in [0, _MASS) per row — xxhash64 of a
    stable id column, no RNG, reproducible across runs."""
    return F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(_MASS))


def _zipf_rank(col: str, seed: int):
    thr = F.array(*[F.lit(t) for t in _zipf_thresholds()])
    v = _hash_frac(col, seed)
    return F.lit(1) + F.size(F.filter(thr, lambda t: t <= v))


# ~64-word hot templates (deterministic words, distinct per template so
# cross-template pairs are NOT near-dups; within a template every doc
# shares all shingles except the unique-token tail)
_TEMPLATES = [
    " ".join(f"tpl{t}word{w % 16}" for w in range(64)) for t in range(4)
]


_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]


def _apply_mutation(table: str, rep, i: int):
    """MODE=mutate post-shift transform for replica i>0: deterministic
    token-level noise on documents.text (see module docstring for the
    tier math). Pure native expressions — xxhash64 draws keyed on
    (doc_id, position, replica), no RNG, reproducible."""
    if table != "documents" or i == 0:
        return rep
    draw = _hash_frac("doc_id", 8311 + i)
    junk = draw < int(0.08 * _MASS)
    heavy = draw < int(0.90 * _MASS)  # [0.08, 0.90) after the junk carve
    p = (
        F.when(junk, F.lit(int(0.55 * _MASS)))
        .when(heavy, F.lit(int(0.45 * _MASS)))
        .otherwise(F.lit(int(0.04 * _MASS)))
    )
    # PER-DOC tag on every filler (r12): the decisive property for the
    # composed pipeline's downstream stages. With per-REPLICA fillers
    # (r11), every noise 3-gram repeated across the replica's docs and
    # every surviving original run repeated across replicas — so at
    # the decades the substring stage (min_df=2) removed essentially
    # ALL tokens from ALL docs, the rule labels collapsed to a single
    # all-negative class, and the distilled classifier converged to a
    # constant score (measured: clf_score identical on all 46k d3 docs
    # at 10×) — the r11 "gate is vacuous at the decades" footnote.
    # A 2-base36-char doc tag makes filler 3-grams df=1 (tag
    # collisions need the same 3 vocab draws on top — (1/32)³), so a
    # mutant keeps its noise tokens plus noise-adjacent originals
    # through span removal and the gate sees separable classes at
    # every decade. Tag also replaces the replica id for cross-replica
    # near-dup avoidance (doc_ids are replica-shifted, so tags differ
    # across replicas by construction). Filler length budget: base
    # m0..m24 (2-3 ch) + tag (1-2 ch) keeps heavy-doc mean_word_len
    # ≈ 4.5 < the 5.0 long_words threshold; junk fillers are padded to
    # 9 + tag ≈ 11 so junk docs land at ≈ 8 ≫ 5.0 and carry the
    # negative label the classifier trains against.
    tag = F.lower(
        F.conv(
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(777 + i)), F.lit(36 * 36))
            .cast("string"),
            10,
            36,
        )
    )
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")

    def _noise_token(idx):
        d32 = F.pmod(F.xxhash64(F.col("doc_id"), idx, F.lit(6131 + i)), F.lit(32))
        d25 = F.pmod(F.xxhash64(F.col("doc_id"), idx, F.lit(6131 + i)), F.lit(25))
        filler = F.concat(
            F.concat(F.lit("m"), d25.cast("string")), tag
        )
        junk_filler = F.concat(
            F.rpad(F.concat(F.lit("jq"), d25.cast("string")), 9, "x"), tag
        )
        return F.when(junk, junk_filler).otherwise(
            # 7/32 draws stay plain stopwords so heavy/light mutants
            # keep stopword_ratio in gate range; the rest are tagged
            F.when(
                d32 < 7, F.element_at(stop_arr, (d32 + 1).cast("int"))
            ).otherwise(filler)
        )

    mutated = F.transform(
        toks,
        lambda t, idx: F.when(
            F.pmod(
                F.xxhash64(F.col("doc_id"), idx, F.lit(4799 + i)),
                F.lit(_MASS),
            )
            < p,
            _noise_token(idx),
        ).otherwise(t),
    )
    return rep.withColumn("text", F.array_join(mutated, " ")).withColumn(
        "n_chars", F.length("text").cast("long")
    )


def _apply_zipf_skew(table: str, rep):
    """Post-shift skew transforms (MODE=zipf). Hot values are global
    constants — never key-shifted — so their frequency grows with the
    replication factor."""
    if table == "events":
        hot = _hash_frac("event_id", 9173) < int(0.5 * _MASS)
        rank = _zipf_rank("event_id", 4211)
        return rep.withColumn(
            "user_id", F.when(hot, rank.cast("long")).otherwise(F.col("user_id"))
        )
    if table == "part":
        hot = _hash_frac("p_partkey", 7477) < int(0.2 * _MASS)
        return rep.withColumn(
            "p_brand", F.when(hot, F.lit("Brand#HOT")).otherwise(F.col("p_brand"))
        )
    if table == "documents":
        hot = _hash_frac("doc_id", 5551) < int(0.05 * _MASS)
        tmpl = F.element_at(
            F.array(*[F.lit(t) for t in _TEMPLATES]),
            (F.pmod(F.xxhash64(F.col("doc_id"), F.lit(5562)), F.lit(4)) + 1).cast("int"),
        )
        hot_text = F.concat(tmpl, F.lit(" uniq"), F.conv(F.col("doc_id").cast("string"), 10, 16))
        return rep.withColumn(
            "text", F.when(hot, hot_text).otherwise(F.col("text"))
        ).withColumn("n_chars", F.length("text").cast("long"))
    return rep


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1.0"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    mode = sys.argv[4] if len(sys.argv) > 4 else "uniform"
    if mode not in ("uniform", "zipf", "mutate"):
        raise SystemExit(f"unknown MODE {mode!r} (uniform|zipf|mutate)")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session(
        "scale-fixture", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    replicate(spark, src, dst, factor, mode)
    for table, cols in SHIFT_COLS.items():
        if cols:
            print(f"{table}: {factor}x -> {os.path.join(dst, table)}")
    spark.stop()


def replicate(spark, src: str, dst: str, factor: int, mode: str = "uniform",
              files: int | None = None) -> None:
    """FACTOR× disjoint key-shifted replication of every SHIFT_COLS
    table of SRC into DST/<table> (MODE uniform, zipf or mutate; see
    the module docstring). ``files`` round-robin repartitions each
    replicated table into that many files first (retry-stable,
    sortBeforeRepartition), the multi-row-group layout bench.py times."""
    # one pass to learn every shared key-domain base
    bases: dict[str, int] = {}
    for table, cols in SHIFT_COLS.items():
        if not cols:
            continue
        df = read_table(spark, src, table)
        maxes = df.agg(*[F.max(c).alias(c) for c in cols]).first()
        for c in cols:
            domain = KEY_DOMAIN.get(c, c)
            bases[domain] = max(bases.get(domain, 0), int(maxes[c]) + 1)

    for table, cols in SHIFT_COLS.items():
        df = read_table(spark, src, table)
        out = os.path.join(dst, table)
        if not cols:
            df.write.mode("overwrite").parquet(out)
            continue
        whole = replicate_table(table, df, factor, bases, mode)
        if files is not None:
            whole = whole.repartition(files)
        whole.write.mode("overwrite").parquet(out)


def replicate_table(table: str, df, factor: int, bases: dict[str, int], mode: str):
    """Union of FACTOR copies of one SHIFT_COLS table: copy i shifts
    each key column by i × its domain's base (``bases``, keyed by
    KEY_DOMAIN name or column), then gets MODE's transform."""
    parts = []
    for i in range(factor):
        rep = df
        for c in SHIFT_COLS[table]:
            base = bases[KEY_DOMAIN.get(c, c)]
            rep = rep.withColumn(c, (F.col(c) + i * base).cast(df.schema[c].dataType))
        if mode == "zipf":
            rep = _apply_zipf_skew(table, rep)
        elif mode == "mutate":
            rep = _apply_mutation(table, rep, i)
        parts.append(rep)
    whole = parts[0]
    for p in parts[1:]:
        whole = whole.unionByName(p)
    return whole


if __name__ == "__main__":
    main()
