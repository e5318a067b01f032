"""Text chunking + section parsing (SURVEY §2.10, T1–T3).

The reference chunks with a HF-tokenizer-driven recursive splitter
(2048 tokens / 512 overlap — data_transformation_helpers.py:161-183,
settings.py:126-127). Tokenizers are heavy, version-sensitive
executor state, so the engine's default is a deterministic
char-window splitter with identical overlap semantics (4 chars ≈ 1
token), fully expressible as native Spark SQL — no Python in the hot
path. The token-aware mode is a pandas UDF over a caller-supplied
tokenizer factory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# reference defaults: 2048-token chunks, 512-token overlap, ≈4 chars/token
DEFAULT_CHUNK_CHARS = 2048 * 4
DEFAULT_OVERLAP_CHARS = 512 * 4


def n_chunks_expr(text: Column, size: int, overlap: int) -> Column:
    step = size - overlap
    length = F.length(text)
    return (
        F.when(length <= size, F.lit(1))
        .otherwise(F.ceil((length - size) / F.lit(step)) + 1)
        .cast("int")
    )


def chunk_text_chars(
    text: Column, size: int = DEFAULT_CHUNK_CHARS, overlap: int = DEFAULT_OVERLAP_CHARS
) -> Column:
    """T2 (native) — sliding char windows → array<string>.

    Pure expression (sequence → transform → substring): whole-stage
    codegen keeps this JVM-side; the equivalent SQL runs in DuckDB for
    the oracle. Windows start every (size-overlap) chars; the last
    window is the only short one, like the reference splitter."""
    step = size - overlap
    n = n_chunks_expr(text, size, overlap)
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.substring(text, i * step + 1, size),
    )


def chunked_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = DEFAULT_CHUNK_CHARS,
    overlap: int = DEFAULT_OVERLAP_CHARS,
) -> DataFrame:
    """T2+T3+W4 — explode chunks with chunk ids `{id}_chunk_{i}` and
    chunk_index / total_chunks stamps (reference
    extract_artists_articles.py:175-217)."""
    from graphragdatapipeline_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    chunks = chunk_text_chars(F.col(text_col), size, overlap)
    # total_chunks as the scalar count formula, NOT F.size(chunks):
    # Catalyst does not CSE across Generate, so a size(chunks) column
    # re-built the whole substring array once per EXPLODED row (plan
    # showed the full transform(sequence...) under Project) — O(chunks²)
    # character copying per doc. n_chunks_expr is the same value (the
    # sequence 0..n-1 that produces the array has exactly n elements)
    # from one length() call.
    return (
        df.select(
            F.col(id_col),
            F.posexplode(chunks).alias("pos", "chunk_text"),
            n_chunks_expr(F.col(text_col), size, overlap).alias("total_chunks"),
        )
        .select(
            F.concat(F.col(id_col).cast("string"), F.lit("_chunk_"), F.col("pos") + 1).alias(
                "chunk_id"
            ),
            F.col(id_col),
            (F.col("pos") + 1).cast("int").alias("chunk_index"),
            F.col("total_chunks").cast("int"),
            F.col("chunk_text"),
        )
    )


def chunk_text_tokens(tokens: Column, chunk_tokens: int = 2048, overlap_tokens: int = 512) -> Column:
    """T2 (token mode) — word-boundary sliding windows, a faithful
    stand-in for the HF recursive splitter without the tokenizer dep:
    tokens = whitespace words; windows of chunk_tokens with overlap.

    Still a native expression: sequence → transform → array_join of a
    slice. `tokens` must be a MATERIALIZED array column (same
    convention as word_shingles): an inline split() expression is
    re-evaluated once per chunk by the lambda."""
    toks = tokens
    step = chunk_tokens - overlap_tokens
    n = (
        F.when(F.size(toks) <= chunk_tokens, F.lit(1))
        .otherwise(F.ceil((F.size(toks) - chunk_tokens) / F.lit(step)) + 1)
        .cast("int")
    )
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(toks, i * step + 1, chunk_tokens), " "),
    )


class WhitespaceTokenizer:
    """Dependency-free tokenizer honoring the encode/decode contract
    (ids index a per-instance vocab built on the fly). A stand-in for
    a library tokenizer in tests — token-mode chunking through the
    exact same windowing code path."""

    def __init__(self) -> None:
        self.vocab: dict[str, int] = {}
        self.words: list[str] = []

    def encode(self, text: str) -> list[int]:
        ids = []
        for w in text.split():
            if w not in self.vocab:
                self.vocab[w] = len(self.words)
                self.words.append(w)
            ids.append(self.vocab[w])
        return ids

    def decode(self, ids: list[int]) -> str:
        return " ".join(self.words[i] for i in ids)


class BpeTokenizer:
    """Real merge-table BPE (Sennrich-style word BPE): a word starts as
    its characters plus a ``</w>`` terminal, and the LOWEST-RANKED
    applicable merge from the table is applied repeatedly until none
    applies — the exact greedy loop HF tokenizers run, just with a
    caller-supplied merge table instead of a downloaded one. Ids are
    assigned per instance on first sight (same convention as
    WhitespaceTokenizer); decode is lossless for single-spaced text
    because unmerged characters concatenate back and ``</w>`` maps to
    a space."""

    def __init__(self, merges: list[tuple[str, str]]) -> None:
        self.ranks: dict[tuple[str, str], int] = {}
        for i, pair in enumerate(merges):
            self.ranks.setdefault(tuple(pair), i)
        self.vocab: dict[str, int] = {}
        self.tokens: list[str] = []

    def _bpe(self, word: str) -> list[str]:
        syms = list(word) + ["</w>"]
        while len(syms) > 1:
            ranked = [
                (self.ranks[(a, b)], i)
                for i, (a, b) in enumerate(zip(syms, syms[1:]))
                if (a, b) in self.ranks
            ]
            if not ranked:
                break
            _, i = min(ranked)
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        return syms

    def encode(self, text: str) -> list[int]:
        ids = []
        for w in text.split():
            for s in self._bpe(w):
                if s not in self.vocab:
                    self.vocab[s] = len(self.tokens)
                    self.tokens.append(s)
                ids.append(self.vocab[s])
        return ids

    def decode(self, ids: list[int]) -> str:
        return "".join(self.tokens[i] for i in ids).replace("</w>", " ").strip()


# The synthetic documents fixture draws from a closed 31-word
# vocabulary (TESTDATA.md); a suffix-cascade merge table over it makes
# every fixture word merge to exactly ONE token, so token windows ==
# word windows and a SQL oracle can replay tokenizer-exact chunking.
FIXTURE_WORD_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
)


def suffix_merge_table(words: tuple[str, ...] = FIXTURE_WORD_VOCAB) -> list[tuple[str, str]]:
    """Vendored merge table: each word contributes its right-to-left
    suffix cascade — (last char, '</w>'), then (prev char, suffix), …
    Every table pair's right element contains '</w>', so inside a word
    only ONE merge is ever applicable; the min-rank greedy therefore
    merges each vocabulary word fully and deterministically, and words
    outside the vocabulary fall back to character tokens (still
    decode-lossless). Shared suffixes dedupe to shared steps."""
    merges: list[tuple[str, str]] = []
    seen: set[tuple[str, str]] = set()
    for w in sorted(words):
        for k in range(1, len(w) + 1):
            pair = (w[-k], w[len(w) - k + 1 :] + "</w>")
            if pair not in seen:
                seen.add(pair)
                merges.append(pair)
    return merges


def fixture_bpe_factory():
    """Zero-arg tokenizer factory over the vendored fixture merge
    table — the registry's tokenizer, exercising the full encode →
    id-window → decode path with a real merge-table BPE."""
    return BpeTokenizer(suffix_merge_table())


def chunk_text_tokenizer(
    text: Column,
    chunk_tokens: int = 2048,
    overlap_tokens: int = 512,
    *,
    tokenizer_factory,
) -> Column:
    """T2 (tokenizer mode) — the reference's HF-token-exact chunking
    (data_transformation_helpers.py:161-183; 2048 tokens / 512 overlap
    from settings.py:126-127): encode → sliding id-windows → decode,
    inside ONE Arrow-batched pandas UDF.

    ``tokenizer_factory`` is a required zero-arg callable returning an
    object with ``encode(str) -> list[int]`` / ``decode(list[int]) ->
    str``; it is how a caller brings a library tokenizer (e.g. a
    HuggingFace one). The factory, not the tokenizer, is shipped to
    executors, and each Python worker builds and caches its own
    instance. The char/word-window modes above need no tokenizer and
    have identical overlap semantics."""
    from pyspark.sql.functions import pandas_udf

    step = chunk_tokens - overlap_tokens
    cache: dict = {}

    @pandas_udf("array<string>")
    def _chunk(texts):  # type: ignore[no-untyped-def]
        import math

        if "tok" not in cache:
            cache["tok"] = tokenizer_factory()
        tok = cache["tok"]

        def split(s):
            if s is None:
                return None
            ids = tok.encode(s)
            if len(ids) <= chunk_tokens:
                return [tok.decode(ids)]
            n = math.ceil((len(ids) - chunk_tokens) / step) + 1
            return [
                tok.decode(ids[i * step : i * step + chunk_tokens]) for i in range(n)
            ]

        return texts.map(split)

    return _chunk(text)


def parse_sections(
    df: DataFrame,
    text_col: str,
    excluded_headers: tuple[str, ...] = ("references", "external links", "see also"),
    min_content_length: int = 30,
) -> DataFrame:
    """T1 — MediaWiki section parser (reference
    wikipedia_helpers.py:104-152): split on `== Header ==` lines,
    name sections, stop at excluded trailing headers, drop short
    sections. Arrow-batched pandas UDF (1→N rows via explode)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    out_type = ArrayType(
        StructType(
            [StructField("name", StringType()), StructField("content", StringType())]
        )
    )
    excluded = {h.lower() for h in excluded_headers}

    @pandas_udf(out_type)
    def _split(texts):  # type: ignore[no-untyped-def]
        import re

        header_re = re.compile(r"^={2,}\s*(.*?)\s*={2,}\s*$", re.MULTILINE)

        def parse(text):
            if text is None:
                return None
            sections = []
            last_end = 0
            name = "Introduction"
            for m in header_re.finditer(text):
                content = text[last_end : m.start()].strip()
                if content:
                    sections.append((name, content))
                name = m.group(1)
                if name.lower() in excluded:
                    last_end = None
                    break
                last_end = m.end()
            if last_end is not None:
                content = text[last_end:].strip()
                if content:
                    sections.append((name, content))
            return [
                {"name": n, "content": c}
                for n, c in sections
                if len(c) >= min_content_length
            ]

        return texts.map(parse)

    return df.withColumn("sections", _split(F.col(text_col))).select(
        *[c for c in df.columns if c != text_col],
        F.explode("sections").alias("section"),
    ).select(
        *[c for c in df.columns if c != text_col],
        F.col("section.name").alias("section_name"),
        F.col("section.content").alias("section_content"),
    )
