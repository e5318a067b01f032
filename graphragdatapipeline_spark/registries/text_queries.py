"""Text-layer registry queries (SURVEY §2.10 + LLM-pipeline text
analysis) over the documents fixture."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphragdatapipeline_spark.io import read_table
from graphragdatapipeline_spark.registry import dround, register, with_ctes
from graphragdatapipeline_spark.registries.dedup_oracles import _unigram_lm_ctes, ws_tokens
from graphragdatapipeline_spark.text import analysis as ta
from graphragdatapipeline_spark.text import chunking as tc

# Small windows so fixture docs (≤ ~600 chars) produce multi-chunk output.
_CHUNK, _OVERLAP = 200, 50
_STEP = _CHUNK - _OVERLAP


@register(
    "text_chunking",
    oracle=f"""
WITH n AS (
  SELECT doc_id, text,
         CASE WHEN length(text) <= {_CHUNK} THEN 1
              ELSE CAST(ceil((length(text) - {_CHUNK}) / {_STEP}.0) AS INT) + 1 END AS n_chunks
  FROM documents
)
SELECT concat(doc_id, '_chunk_', i + 1) AS chunk_id,
       doc_id,
       CAST(i + 1 AS INT) AS chunk_index,
       n_chunks AS total_chunks,
       substr(text, CAST(i * {_STEP} + 1 AS INT), {_CHUNK}) AS chunk_text
FROM n, LATERAL unnest(generate_series(0, CAST(n_chunks AS BIGINT) - 1)) AS t(i)
""",
    headline=True,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T3/W4 — char-window chunking with chunk ids and index/total
    stamps (reference splitter semantics at
    data_transformation_helpers.py:161-183, stamping at
    extract_artists_articles.py:195-217)."""
    d = read_table(spark, sf_dir, "documents")
    return tc.chunked_documents(d, "doc_id", "text", size=_CHUNK, overlap=_OVERLAP)


@register(
    "text_stats",
    oracle=rf"""
WITH t AS (
  SELECT doc_id, text, {ws_tokens()} AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
       length(text) AS n_chars,
       len(toks) AS n_tokens,
       floor((length(regexp_replace(text, '\s', '', 'g')) / greatest(len(toks), 1)) * 10000 + 0.5) / 10000 AS mean_word_len,
       floor((len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is'], x))) / greatest(len(toks), 1)) * 10000 + 0.5) / 10000 AS stopword_ratio
FROM t
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and quality-scoring
    features (Gopher/C4-style gates) in ONE document scan — the merged
    LLM-pipeline text-analysis profile. n_ws_tokens and n_tokens are
    computed by two independent implementations (token_count_ws vs
    quality_features) and must agree, which the oracle cross-checks
    for free."""
    d = read_table(spark, sf_dir, "documents")
    feats = ta.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        ta.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        ta.token_count_bpe(F.col("text")).alias("n_bpe_tokens"),
        feats[0],  # n_chars
        feats[1],  # n_tokens
        dround(feats[2], 4).alias("mean_word_len"),
        dround(feats[3], 4).alias("stopword_ratio"),
    )


@register(
    "text_language_id",
    oracle=rf"""
WITH t AS (
  SELECT doc_id, lang, {ws_tokens()} AS toks
  FROM documents
)
SELECT doc_id, lang,
       floor((len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is'], x)))
              / greatest(len(toks), 1)) * 1000000 + 0.5) / 1000000 AS score_en,
       floor((len(list_filter(toks, x -> list_contains(['el','la','los','las','es','una'], x)))
              / greatest(len(toks), 1)) * 1000000 + 0.5) / 1000000 AS score_es
FROM t
""",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-hit rates (n-gram/stopword
    method). The argmax over score_* is the predicted language."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        dround(ta.marker_hits(F.col("text"), ta.LANG_MARKERS["en"]) /
               F.greatest(ta.token_count_ws(F.col("text")), F.lit(1)), 6).alias("score_en"),
        dround(ta.marker_hits(F.col("text"), ta.LANG_MARKERS["es"]) /
               F.greatest(ta.token_count_ws(F.col("text")), F.lit(1)), 6).alias("score_es"),
    )


@register(
    "text_inverted_index_search",
    oracle=rf"""
WITH idx AS (
  SELECT doc_id, unnest({ws_tokens()}) AS token FROM documents
)
SELECT doc_id FROM idx
WHERE token IN ('spark', 'join')
GROUP BY doc_id
HAVING count(DISTINCT token) = 2
""",
)
def text_inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 scalable fulltext: inverted-index AND-query (vs the naive
    contains() scan in the `fulltext_search` query)."""
    d = read_table(spark, sf_dir, "documents")
    idx = ta.build_inverted_index(d, "doc_id", "text")
    return ta.fulltext_lookup(idx, ["spark", "join"], id_col="doc_id")


@register(
    "text_fingerprint",
    oracle=r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (rolling-hash analog): md5 over
    normalized text."""
    from graphragdatapipeline_spark.operators.dedup import fingerprint

    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@register(
    "text_section_parse",
    oracle=with_ctes(
        [("base", "SELECT doc_id, trim(text) AS body FROM documents")],
        """SELECT doc_id, 'Introduction' AS section_name, body AS section_content FROM base
UNION ALL
SELECT doc_id, 'Details', body FROM base""",
    ),
)
def text_section_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — MediaWiki section parser (reference
    wikipedia_helpers.py:104-152) driven end-to-end: documents are
    wrapped with `== Details ==` headers, a sub-minimum stub section
    (dropped by the 30-char floor) and an excluded `== References ==`
    tail (parsing stops there). The oracle states the expected
    sections directly — intro + details, both trimmed."""
    d = read_table(spark, sf_dir, "documents")
    sectioned = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n== Details ==\n"),
            F.col("text"),
            F.lit("\n== Stub ==\nshort one"),
            F.lit("\n== References ==\nexcluded tail"),
        ).alias("text"),
    )
    return tc.parse_sections(sectioned, "text")


@register(
    "text_context_headers",
    oracle="""
SELECT doc_id,
       concat_ws(' ',
         concat('search_document: Topic: doc-', doc_id, '.'),
         'Context:',
         CASE WHEN lang <> 'zh' THEN concat('language ', lang, ';') END,
         CASE WHEN n_chars >= 300 THEN concat('length ', n_chars, ';') END,
         concat('| ', source, ' (Section: Introduction) |')
       ) AS header
FROM documents
""",
)
def text_context_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — natural-language context header from conditional parts
    (reference extract_artists_articles.py:146-193): optional clauses
    drop out via null-skipping concat_ws, exactly how the reference
    skips missing genres/country/year."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.concat(F.lit("search_document: Topic: doc-"), F.col("doc_id"), F.lit(".")),
            F.lit("Context:"),
            F.when(
                F.col("lang") != "zh",
                F.concat(F.lit("language "), F.col("lang"), F.lit(";")),
            ),
            F.when(
                F.col("n_chars") >= 300,
                F.concat(F.lit("length "), F.col("n_chars"), F.lit(";")),
            ),
            F.concat(F.lit("| "), F.col("source"), F.lit(" (Section: Introduction) |")),
        ).alias("header"),
    )


@register(
    "text_chunking_tokens",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), sized AS (
  SELECT doc_id, w,
         CASE WHEN len(w) <= 40 THEN 1
              ELSE CAST(ceil((len(w) - 40) / 30.0) AS INT) + 1 END AS n_chunks
  FROM toks
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_index,
       array_to_string(w[(i - 1) * 30 + 1 : (i - 1) * 30 + 40], ' ') AS chunk_text
FROM sized, unnest(generate_series(1, n_chunks)) AS t(i)
""",
)
def text_chunking_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 token mode — 40-word windows with 10-word overlap, all
    native expressions over a materialized token array (the HF
    tokenizer swaps in behind the same window semantics)."""
    d = read_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.split("text", r"\s+").alias("_toks"))
    return toked.select(
        "doc_id",
        F.posexplode(tc.chunk_text_tokens(F.col("_toks"), 40, 10)).alias(
            "pos", "chunk_text"
        ),
    ).select(
        "doc_id", (F.col("pos") + 1).cast("int").alias("chunk_index"), "chunk_text"
    )


@register(
    "text_chunking_bpe",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), sized AS (
  SELECT doc_id, w,
         CASE WHEN len(w) <= 40 THEN 1
              ELSE CAST(ceil((len(w) - 40) / 30.0) AS INT) + 1 END AS n_chunks
  FROM toks
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_index,
       array_to_string(w[(i - 1) * 30 + 1 : (i - 1) * 30 + 40], ' ') AS chunk_text
FROM sized, unnest(generate_series(1, n_chunks)) AS t(i)
""",
)
def text_chunking_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 tokenizer-exact mode through the REAL merge-table BPE path
    (chunk_text_tokenizer: encode → sliding id-windows → decode inside
    one Arrow kernel — the tokenizer_factory seam a library tokenizer
    plugs into, reference data_transformation_helpers.py:161-183). The
    vendored suffix-cascade merge table merges every fixture-vocabulary
    word to exactly one token, so the SQL oracle replays the chunking as
    word windows — green only if the min-rank merge loop, id assignment
    and decode are all exact."""
    from graphragdatapipeline_spark.text.chunking import (
        chunk_text_tokenizer,
        fixture_bpe_factory,
    )

    d = read_table(spark, sf_dir, "documents")
    chunks = chunk_text_tokenizer(
        F.col("text"), 40, 10, tokenizer_factory=fixture_bpe_factory
    )
    return d.select("doc_id", F.posexplode(chunks).alias("pos", "chunk_text")).select(
        "doc_id", (F.col("pos") + 1).cast("int").alias("chunk_index"), "chunk_text"
    )


_TFIDF_ORACLE = with_ctes(
    [
        ("toks", f"SELECT doc_id, {ws_tokens()} AS w FROM documents"),
        ("tf", """
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY 1, 2
"""),
        ("dfreq", "SELECT term, count(*) AS df FROM tf GROUP BY 1"),
        ("ranked", """
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf / dfreq.df DESC, tf.term ASC) AS rank
  FROM tf JOIN dfreq USING (term)
"""),
    ],
    """SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3""",
)


@register("text_tfidf_top_terms", oracle=_TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf-idf order (tf/df desc,
    term asc). Integer (tf, df) output keeps the compare float-free;
    see text.analysis.tfidf_top_terms for the 100 TB join shape."""
    d = read_table(spark, sf_dir, "documents")
    return ta.tfidf_top_terms(d, "doc_id", "text", k=3)


@register(
    "fulltext_bm25_topk",
    oracle=with_ctes(
        [
            ("toks", f"SELECT doc_id, unnest({ws_tokens()}) AS token FROM documents"),
            ("dl", "SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id"),
            ("stats", "SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl"),
            ("postings", """
  SELECT doc_id, token, count(*) AS tf FROM toks
  WHERE token IN ('spark', 'join', 'stream') GROUP BY doc_id, token
"""),
            ("dfreq", """
  SELECT token, count(DISTINCT doc_id) AS df FROM postings GROUP BY token
"""),
            ("scored", """
  SELECT p.doc_id,
         sum(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
             * (p.tf * 2.2) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avgdl))) AS bm25
  FROM postings p
  JOIN dfreq f USING (token)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY p.doc_id
"""),
        ],
        """SELECT doc_id, floor(bm25 * 1000000 + 0.5) / 1000000 AS bm25
FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT 10""",
    ),
)
def fulltext_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the fixed query terms — the standard IR
    ranking the engine's fulltext layer serves (tf, df, doclen and
    corpus stats all from one tokenize pass; stats broadcast; top-k
    TakeOrdered). Oracle replays the exact formula; ln() agrees to
    well past the 6-dp rounding on both libms."""
    from graphragdatapipeline_spark.registry import dround
    from graphragdatapipeline_spark.text.analysis import bm25_topk

    d = read_table(spark, sf_dir, "documents")
    out = bm25_topk(d, ["spark", "join", "stream"], k=10)
    return out.select("doc_id", dround(F.col("bm25"), 6).alias("bm25"))


@register(
    "text_lm_quality_score",
    oracle=with_ctes(
        _unigram_lm_ctes() + [(
            "tot",
            "SELECT CAST(sum(n_tokens) AS BIGINT) AS nt, CAST(sum(sum_lq) AS BIGINT) AS slq\n  FROM per",
        )],
        """SELECT p.doc_id, p.n_tokens,
       floor((-p.sum_lq / (p.n_tokens * 1000000.0)) * 1000000 + 0.5) / 1000000.0
         AS cross_entropy,
       (CAST(-p.sum_lq AS DOUBLE) * t.nt <= CAST(-t.slq AS DOUBLE) * p.n_tokens)
         AS below_corpus_mean
FROM per p CROSS JOIN tot t""",
    ),
)
def text_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM perplexity gate (the KenLM quality filter of the
    CCNet / LLaMA pipelines, unigram form): add-½-smoothed unigram LM
    trained distributed on the corpus itself, per-document cross-
    entropy, and the token-weighted below-corpus-mean keep flag.
    Integer-quantized log-probs make the whole flow value-exact — the
    oracle replays train + score + flag end-to-end in SQL."""
    d = read_table(spark, sf_dir, "documents")
    return ta.lm_quality_scores(d, "doc_id", "text")


@register(
    "text_lm_bigram_score",
    oracle=with_ctes(
        [
            ("toksarr", f"SELECT doc_id, {ws_tokens()} AS w FROM documents"),
            ("stream", """
  SELECT doc_id, CAST(NULL AS VARCHAR) AS prev, w[1] AS cur
  FROM toksarr WHERE len(w) >= 1
  UNION ALL
  SELECT t.doc_id, t.w[i] AS prev, t.w[i + 1] AS cur
  FROM toksarr t, LATERAL unnest(generate_series(1, len(t.w) - 1)) AS s(i)
"""),
            ("ucnt", """
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(w) AS tok FROM toksarr) GROUP BY tok
"""),
            ("bcnt", """
  SELECT prev, cur, count(*) AS cb FROM stream WHERE prev IS NOT NULL
  GROUP BY prev, cur
"""),
            ("corpus", """
  SELECT CAST(sum(c) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V FROM ucnt
"""),
            ("scored", """
  SELECT s.doc_id,
         CAST(floor(ln(
           CASE WHEN s.prev IS NULL
                THEN (2 * cu.c + 1) / (2 * corpus.N + corpus.V)
                ELSE 0.75e0 * ((2 * coalesce(b.cb, 0) + 1) / (2 * cup.c + corpus.V))
                   + 0.25e0 * ((2 * cu.c + 1) / (2 * corpus.N + corpus.V))
           END) * 1000000 + 0.5) AS BIGINT) AS lq
  FROM stream s
  JOIN ucnt cu ON cu.tok = s.cur
  LEFT JOIN ucnt cup ON cup.tok = s.prev
  LEFT JOIN bcnt b ON b.prev = s.prev AND b.cur = s.cur
  CROSS JOIN corpus
"""),
        ],
        """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       floor((-CAST(sum(lq) AS BIGINT) / (count(*) * 1000000.0)) * 1000000 + 0.5)
         / 1000000.0 AS cross_entropy
FROM scored GROUP BY doc_id""",
    ),
)
def text_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM cross-entropy per document (λ=0.75
    bigram / 0.25 unigram, add-½ both components) — the model-order
    upgrade over text_lm_quality_score's unigram gate, sensitive to
    token TRANSITIONS (word-soup scores badly even when its unigrams
    are common). Train + score replayed end-to-end in SQL with the
    same integer-quantized log-prob discipline."""
    d = read_table(spark, sf_dir, "documents")
    return ta.lm_bigram_scores(d, "doc_id", "text")
