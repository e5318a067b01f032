"""Deduplication registry queries (north-star LLM-pipeline operators)
over the documents fixture. The MinHash/SimHash oracles are generated
programmatically — they replay the exact md5-based pipeline in DuckDB
SQL, so the correctness gate covers the real algorithm, not a proxy."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.operators import dedup as dd
from graphragdatapipeline_spark.registry import register, with_ctes
from graphragdatapipeline_spark.registries.dedup_oracles import (
    BANDS,
    MAX_BUCKET,
    MEGA_DROPS,
    MINHASH_PAIRS,
    NUM_HASHES,
    SUBSTRING_SELECT,
    _components_ctes,
    _minhash_ctes,
    _shingle_ctes,
    _substring_ctes,
    _unigram_lm_ctes,
    _verified_flow_ctes,
    ws_tokens,
)
from graphragdatapipeline_spark.session import ensure_parallelism


def _simhash_ctes(bits: int = 16) -> list[tuple[str, str]]:
    """Fingerprint replay (`fps`) at any width ≤ 60: decode the first
    ⌈bits/4⌉ md5 hex chars to a BIGINT exactly like the engine's
    conv(substring(md5, 1, n), 16, 10) — per-nibble strpos decode,
    place values as exact integer literals (16^14 < 2^63)."""
    nibbles = (bits + 3) // 4
    nib = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (nibbles - 1 - i)}"
        if i < nibbles - 1
        else f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
        for i in range(nibbles)
    )
    votes = ",\n         ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(bits))
    return [
        ("tok", f"SELECT doc_id, unnest({ws_tokens()}) AS t\n  FROM documents"),
        ("hashed", "SELECT doc_id, md5(t) AS h FROM tok"),
        ("hv", f"SELECT doc_id, {nib} AS hv FROM hashed"),
        ("voted", f"SELECT doc_id,\n         {votes}\n  FROM hv GROUP BY doc_id"),
        ("fps", f"SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM voted"),
    ]


@register(
    "dedup_exact",
    oracle=r"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
           ORDER BY doc_id
         ) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy fingerprint, keep smallest id."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return dd.exact_dedup(d, "doc_id", "text").select("doc_id", "lang")


@register(
    "dedup_minhash_lsh", oracle=with_ctes(_minhash_ctes(), MINHASH_PAIRS), headline=True
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs: shingle → 16 md5 minhashes
    → 4 bands → bucket join. The oracle replays the identical pipeline
    in SQL — this is an exact correctness gate for an approximate
    algorithm."""
    d = read_table(spark, sf_dir, "documents")
    return dd.minhash_dedup_pairs(
        d, "doc_id", "text", k=3, num_hashes=NUM_HASHES, bands=BANDS
    )


# Shingle-sharing pairs under the max_posting=32 stop-shingle cap,
# with pre-cap shingle-set sizes: the ngram_jaccard/containment input.
_PAIR_CTES = _shingle_ctes() + [
    ("sizes", "SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id"),
    ("keep_sh", "SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 32"),
    ("shc", "SELECT sh.doc_id, sh.shingle FROM sh JOIN keep_sh USING (shingle)"),
    ("common", """
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
  FROM shc a JOIN shc b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
"""),
]


@register(
    "dedup_ngram_jaccard",
    oracle=with_ctes(
        _PAIR_CTES,
        """SELECT c.a, c.b,
       floor((c.common / (sa.sz + sb.sz - c.common)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM common c
JOIN sizes sa ON c.a = sa.doc_id
JOIN sizes sb ON c.b = sb.doc_id
WHERE c.common / (sa.sz + sb.sz - c.common) >= 0.08""",
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity pairs via inverted-index self-join
    (docs only meet if they share a shingle — never a cross join).

    Registered with the max_posting=32 stop-shingle guardrail as the
    DEFAULT since r12 (the r11 verdict's one `weak` item): a no-op at
    fixture scale — the hottest posting list is 7 docs — but the
    bound that keeps the self-join pair volume linear under
    boilerplate shingles at 100 TB (measured at the 500 k-doc
    non-degenerate fixture: 736.9 s unguarded vs 58.5 s for the
    identically-shaped capped containment sibling, SCALE.md). The
    oracle applies the identical cap (keep_sh CTE, the
    dedup_containment precedent); union-size denominators stay
    pre-cap exact on both sides. The unguarded exact flow remains a
    pytest baseline (test_jaccard_posting_cap_*)."""
    from graphragdatapipeline_spark.registry import dround

    d = read_table(spark, sf_dir, "documents")
    sh = dd.shingle_table(d, "doc_id", "text", k=3)
    pairs = dd.jaccard_pairs(sh, "doc_id", threshold=0.08, max_posting=32)
    return pairs.select("a", "b", dround(F.col("jaccard"), 6).alias("jaccard"))


@register(
    "dedup_containment",
    oracle=with_ctes(
        _PAIR_CTES + [
            ("both_sides", """
  SELECT c.a, c.b, c.common, sa.sz AS sz_a, sb.sz AS sz_b
  FROM common c
  JOIN sizes sa ON c.a = sa.doc_id
  JOIN sizes sb ON c.b = sb.doc_id
"""),
            ("directed", """
  SELECT a AS src, b AS dst, common / sz_a AS containment FROM both_sides
  UNION ALL
  SELECT b AS src, a AS dst, common / sz_b AS containment FROM both_sides
"""),
        ],
        """SELECT src, dst, floor(containment * 1000000 + 0.5) / 1000000 AS containment
FROM directed WHERE containment >= 0.15""",
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram CONTAINMENT pairs (|S(src)∩S(dst)|/|S(src)| ≥
    0.15) — the asymmetric quote/subset relation: a short doc pasted
    whole into a long one scores containment ≈ 1 where Jaccard ≈
    |short|/|long| ≈ 0. The decontamination/quote-audit twin of
    dedup_ngram_jaccard, same inverted-index join (pairs only where a
    shingle is shared), common-count computed once per unordered pair
    and emitted both directions with per-side denominators. Registered
    with the max_posting=32 stop-shingle guardrail as the DEFAULT (a
    no-op at fixture scale — max posting is 7 — but the bound that
    keeps pair volume linear under boilerplate shingles at 100 TB; the
    oracle applies the identical cap, denominators stay pre-cap
    exact)."""
    from graphragdatapipeline_spark.registry import dround

    d = read_table(spark, sf_dir, "documents")
    sh = dd.shingle_table(d, "doc_id", "text", k=3)
    pairs = dd.containment_pairs(sh, "doc_id", threshold=0.15, max_posting=32)
    return pairs.select(
        "src", "dst", dround(F.col("containment"), 6).alias("containment")
    )


def _simhash_pairs_oracle(max_hamming: int = 3, bits: int = 16) -> str:
    """Pairs oracle: the engine's segment bucketing is exhaustive by
    pigeonhole (hamming ≤ h ⇒ ≥1 of h+1 segments equal), so the result
    set is exactly {a<b : popcount(fa⊻fb) ≤ h} — which DuckDB states
    directly with xor + bit_count over the replayed fingerprints. The
    oracle self-join is quadratic but sf0.01 is 500 docs; the ENGINE
    side stays bucketed."""
    return with_ctes(
        _simhash_ctes(bits),
        f"""SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}""",
    )


@register("dedup_simhash_pairs", oracle=_simhash_pairs_oracle(bits=60))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by pigeonhole segment bucketing +
    in-bucket Hamming verification; exactness also covered in pytest
    on crafted near-dup fixtures.

    60-bit fingerprints (r11, was 16): with max_hamming=3 the
    pigeonhole buckets are 15-bit segments — 65,536 bucket values —
    where 16-bit fingerprints gave 4-bit segments with SIXTEEN values,
    i.e. in-bucket self-join volume ~(n/16)² per segment: the
    non-degenerate sf10 fixture (500 k distinct docs) WEDGED on it
    (r11 broadcast audit — the job sat at ~10⁹ pairs per bucket).
    60 = the widest md5 prefix conv() fits in a signed int64; the
    Hamming contract is unchanged and the oracle states the same
    full predicate over the replayed 60-bit fingerprints. Production
    shape per Manku et al. 2007: wide fingerprints + segment count
    set by max_hamming, bucket-key space >> corpus/bucket-target;
    the max_bucket guardrail stays available on the operator for
    adversarial boilerplate."""
    d = read_table(spark, sf_dir, "documents")
    fps = dd.simhash(d, "doc_id", "text", bits=60)
    return dd.simhash_near_dups(fps, "doc_id", max_hamming=3, bits=60)


@register(
    "dedup_corpus_verified",
    oracle=with_ctes(
        _verified_flow_ctes() + [("mega_drops", MEGA_DROPS)],
        """SELECT d.doc_id, d.lang FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM verified v WHERE v.b = d.doc_id)
  AND NOT EXISTS (SELECT 1 FROM mega_drops md WHERE md.doc_id = d.doc_id)""",
    ),
)
def dedup_corpus_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup flow end-to-end: MinHash-LSH candidate
    pairs (buckets ≤ MAX_BUCKET) → exact Jaccard verification joined
    on candidates only → cleaned corpus (drop the larger id of each
    verified pair; smallest id per duplicate group survives). Buckets
    ABOVE the cap — boilerplate / mirror mega clusters, the quadratic
    hazard at 100 TB — are resolved cluster-level instead: keep the
    min-id representative per bucket, drop the rest, cost linear in
    the band table. At scale the verification join touches
    |candidates| pairs, never the corpus²; false LSH positives are
    filtered by the verify step, false negatives bounded by the band
    collision curve (1-(1-s^4)^4). The oracle replays shingle → sign →
    band → bucket-cap → bucket-join → verify → mega-representative →
    anti-join entirely in SQL, at id granularity. Jaccard VALUES are
    verified by dedup_ngram_jaccard (same jaccard_pairs code path with
    jaccard in the output)."""
    d = read_table(spark, sf_dir, "documents")
    return _verified_flow(d)[1].select("doc_id", "lang")


def _verified_flow(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Engine twin of _verified_flow_ctes + MEGA_DROPS over the
    documents frame `d` → (verified pairs (a, b), cleaned `d`): capped
    LSH candidates and mega-bucket drops from ONE band table → shingles
    → exact Jaccard ≥ 0.2 on the candidates → dedup_corpus → anti-join
    the drops. dedup_corpus_verified, the cluster queries and
    curation_end_to_end all read the flow from here."""
    bands = dd._band_table(
        ensure_parallelism(d), "doc_id", "text",
        k=3, num_hashes=NUM_HASHES, bands=BANDS,
    )
    cands = dd.lsh_candidate_pairs(bands, "doc_id", max_bucket=MAX_BUCKET)
    mega = dd.lsh_mega_bucket_drops(bands, "doc_id", MAX_BUCKET)
    sh = dd.shingle_table(d, "doc_id", "text", k=3)
    pairs = dd.jaccard_pairs(sh, "doc_id", threshold=0.2, candidates=cands)
    pairs = pairs.select("a", "b")
    clean = dd.dedup_corpus(d, pairs, "doc_id").join(mega, "doc_id", "left_anti")
    return pairs, clean


_CLUSTER_CTES = _verified_flow_ctes() + [
    *_components_ctes("verified", "a", "b", "cluster_id"),
    ("allc", """
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""),
    ("csize", """
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM allc GROUP BY cluster_id
"""),
]


@register(
    "dedup_cluster_assignments",
    oracle=with_ctes(
        _CLUSTER_CTES,
        """SELECT a.doc_id, a.cluster_id, s.cluster_size
FROM allc a JOIN csize s USING (cluster_id)""",
    ),
)
def dedup_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignments over the verified near-dup pair
    graph: connected components close the pairwise relation
    transitively (A~B, B~C ⇒ {{A,B,C}} even though A~C was never
    scored), every pair-free doc is its own singleton, cluster_id is
    the min member id. The production view behind dup review,
    cluster-level sampling, and keep-best selection. Oracle: the same
    verified-pair CTEs as dedup_corpus_verified plus a recursive
    min-label walk (the graph_connected_components oracle pattern) —
    the whole flow shingle → LSH → verify → components replayed at id
    granularity."""
    d = read_table(spark, sf_dir, "documents")
    return dd.dup_cluster_assignments(d, _verified_flow(d)[0], "doc_id")


@register(
    "dedup_keep_best_by_quality",
    oracle=with_ctes(
        _CLUSTER_CTES + [
            *_unigram_lm_ctes("l"),
            ("ranked", """
  SELECT a.doc_id, a.cluster_id, s.cluster_size,
         row_number() OVER (
           PARTITION BY a.cluster_id
           ORDER BY coalesce(-p.sum_lq / p.n_tokens, 1e18) ASC, a.doc_id ASC
         ) AS rn
  FROM allc a
  JOIN csize s USING (cluster_id)
  LEFT JOIN lper p ON p.doc_id = a.doc_id
"""),
        ],
        "SELECT doc_id, cluster_id, cluster_size FROM ranked WHERE rn = 1",
    ),
)
def dedup_keep_best_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL production survivor rule: keep the HIGHEST-QUALITY
    member of each duplicate cluster, not the smallest id — min-id
    keeps whichever copy was crawled first; quality-keep retains the
    cleanest copy of boilerplate-mangled mirrors. Quality is the
    LM cross-entropy of text_lm_quality_score (lower = more fluent),
    compared via the exact un-rounded ratio −Σlq/n_tokens (one IEEE
    division of exact int64s — identical ordering on both engines),
    ties to the smallest doc_id; docs with no tokens sort last.
    Composes three independently-oracled layers — verified pair flow,
    connected-components clustering, integer-quantized LM scoring —
    and the oracle replays all three end-to-end."""
    from pyspark.sql import Window

    from graphragdatapipeline_spark.text.analysis import (
        lm_score_against_index,
        lm_token_index_delta,
    )

    d = read_table(spark, sf_dir, "documents")
    clusters = dd.dup_cluster_assignments(d, _verified_flow(d)[0], "doc_id")
    scores = lm_score_against_index(d, lm_token_index_delta(d))
    ranked = (
        clusters.join(scores, "doc_id", "left")
        .withColumn(
            "_q",
            F.coalesce(
                (-F.col("sum_lq")) / F.col("n_tokens"), F.lit(1e18)
            ),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.asc("_q"), F.asc("doc_id")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    return ranked.select("doc_id", "cluster_id", "cluster_size")


@register(
    "dedup_substring_removal", oracle=with_ctes(_substring_ctes(), SUBSTRING_SELECT)
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with span REMOVAL (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better'):
    every token covered by a word 3-gram occurring in >1 distinct
    document is excised and the doc is reconstructed from surviving
    tokens (single-space joined; reconstruction whitespace-normalizes
    every doc, so untouched docs hash stably too). Catches the
    PARTIAL-overlap contamination whole-doc dedup cannot — boilerplate
    headers, licence blocks, quoted passages — and, unlike the retired
    duprate metric it strictly supersedes (n_shingles / n_shared /
    dup_rate / flag_dup are the same contract, distinct-shingle
    granularity), it produces the cleaned corpus itself.

    Reference parity: the reference has no substring-level dedup; this
    is north-star LLM-pipeline surface (BASELINE.json dedup family).

    Scale shape — linear, no pair materialization: positional-shingle
    explode (map-side), df count per shingle, join back on shingle
    (one row per OCCURRENCE — a df=10^9 boilerplate shingle fans out
    nothing), <= k× span→position explode, two id-keyed aggs
    re-attached to the token payload once (slim rows through every
    shuffle; the token arrays never cross one). Oracle replays the
    identical pipeline: same split/lower tokenization, same whole-doc
    shingle for sub-k docs, same position algebra."""
    from graphragdatapipeline_spark.registry import dround

    d = read_table(spark, sf_dir, "documents")
    out = dd.remove_duplicated_spans(d, "doc_id", "text", k=3, min_df=2)
    return out.withColumn("dup_rate", dround(F.col("dup_rate"), 6))
