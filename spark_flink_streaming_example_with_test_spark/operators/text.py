"""Text-analysis operators for large-scale training-data pipelines:
tokenization, token statistics, quality scoring, language-ID
heuristics, document fingerprinting.

All hot-path logic is built-in JVM expressions (split / size /
array_distinct / filter lambdas) — no Python UDFs — so plans stay
inside whole-stage codegen and scale linearly with input splits.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_flink_streaming_example_with_test_spark.functions.numerics import half_up_ratio_col

#: Minimal English stop-list used by the language-ID heuristic.
EN_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def tokenize(text: Column | str, delimiter: str = " ") -> Column:
    """Whitespace tokenization as a column expression."""
    return F.split(text, delimiter)


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach n_tokens / n_chars / avg_token_len / type-token ratio."""
    toks = tokenize(F.col(text_col))
    n_tokens = F.size(toks)
    # Both ratios are per-row count ratios: exact integer half-up
    # emission (the cross-engine ROUND half-boundary class).
    return df.withColumns(
        {
            "n_tokens": n_tokens,
            "n_chars": F.length(text_col),
            "avg_token_len": half_up_ratio_col(
                F.length(text_col), n_tokens, 4
            ),
            "ttr": half_up_ratio_col(
                F.size(F.array_distinct(toks)), n_tokens, 4
            ),
        }
    )


def quality_score(n_tokens: Column) -> Column:
    """Logistic length-based quality prior in (0, 1)."""
    return F.round(1.0 / (1.0 + F.exp(-(n_tokens / 100.0 - 1.0))), 4)


def stopword_hits(text: Column | str, stopwords: Sequence[str] = EN_STOPWORDS) -> Column:
    """Count of tokens that are stopwords (case-insensitive)."""
    toks = tokenize(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(list(stopwords))))


def predict_language(stop_ratio: Column) -> Column:
    """Stopword-density language-ID heuristic: a high density of
    English function words marks English-like text. (An n-gram
    profile model would slot in here the same way — another column
    expression over the token array.)"""
    return (
        F.when(stop_ratio >= 0.12, "en")
        .when(stop_ratio >= 0.04, "latin-ish")
        .otherwise("other")
    )


def fingerprint(text: Column | str) -> Column:
    """Stable 128-bit content fingerprint (hex MD5). Cheap exact-dup
    key: grouping by the 32-char digest instead of the full document
    keeps the dedup shuffle narrow at 100 TB."""
    return F.md5(F.col(text) if isinstance(text, str) else text)


#: BPE-ish pre-tokenization pattern (GPT-2 style, simplified for
#: cross-engine portability): word pieces with optional leading
#: space, digit runs, punctuation runs.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def regex_tokens(text: Column | str, pattern: str = BPE_TOKEN_PATTERN) -> Column:
    """Regex pre-tokenization (the split a BPE tokenizer applies
    before merges): letter runs, digit runs, punctuation runs —
    ``regexp_extract_all``, JVM-side, no UDF."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(col, F.lit(pattern), 0)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks —
    the standard pre-embedding / context-window prep step.

    Output: (id, chunk_id, chunk_text, n_tokens), one row per chunk,
    stride = chunk_tokens - overlap. Pure expressions: tokenize once,
    posexplode a sequence of chunk starts, slice+rejoin — the explode
    multiplies rows ~len/stride, which is the true output size, and
    no shuffle is introduced (narrow per-row transform).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokenize(F.col(text_col))
    # chunk starts: 0, stride, 2*stride, ... while start < n_tokens
    # (last chunk may be short; a doc shorter than one chunk yields
    # exactly one chunk).
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)
    )
    exploded = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        n.alias("n_doc_tokens"),
        F.posexplode(starts).alias("chunk_id", "start"),
    ).filter(F.col("n_doc_tokens") > 0)
    chunk = F.slice("__toks", F.col("start") + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        "chunk_id",
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


def chunk_documents_udtf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """UDTF form of ``chunk_documents``: a Python user-defined table
    function applied via a LATERAL join — one input row expands to N
    chunk rows inside the UDTF's generator.

    This exists to cover the UDTF / lateral-join API surface with
    semantics identical to the expression form (they share one
    oracle). The expression form is the hot path — a Python UDTF
    moves every row through a Python worker; the right uses for the
    API are expansions whose logic genuinely can't be expressed as
    Catalyst expressions (external tokenizers, model calls), where
    per-row Python is the cost of the semantics, not overhead.
    """
    from pyspark.sql.functions import udtf

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap

    @udtf(returnType="chunk_id int, chunk_text string, n_tokens int")
    class ChunkUdtf:
        def eval(self, text: str):
            if text is None:
                return
            words = text.split(" ")
            # Same start grid as the expression form: 0, stride, ...
            # up to (and including) the last token index; a doc
            # shorter than one chunk yields exactly one chunk.
            for cid, start in enumerate(
                range(0, max(len(words) - 1, 0) + 1, stride)
            ):
                piece = words[start : start + chunk_tokens]
                yield cid, " ".join(piece), len(piece)

    import uuid

    spark = df.sparkSession
    # Per-call names: a fixed view/function name would let two calls
    # (different params, or same id_col concurrently) clobber each
    # other's registration before the first plan is analyzed.
    tag = uuid.uuid4().hex
    fn_name = f"__chunk_udtf_{tag}"
    view = f"__docs_to_chunk_{tag}"
    spark.udtf.register(fn_name, ChunkUdtf)
    df.select(F.col(id_col), F.col(text_col)).createOrReplaceTempView(view)
    out = spark.sql(
        f"""
        SELECT {id_col}, c.chunk_id, c.chunk_text, c.n_tokens
        FROM {view}, LATERAL {fn_name}({text_col}) c
        """
    )
    # Force analysis so the plan binds to this call's view/UDTF now;
    # the resolved plan stays valid for later execution.
    out.schema
    return out


def pack_token_budget(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    part_col: str = "source",
    budget: int = 512,
) -> DataFrame:
    """Sequence-packing assignment for pretraining: documents of a
    shard (``part_col``) are concatenated in ``id_col`` order and cut
    every ``budget`` tokens; a document's pack is the cut window its
    first token falls in (``pack_id = floor(preceding_tokens /
    budget)``). Output is the per-pack manifest ``(source, pack_id,
    n_docs, pack_tokens)``.

    Scale shape: the running sum windows over ``part_col`` — one
    shuffle keyed by shard, never a global single-partition sort
    (the classic scale killer for ORDER BY cumsums). Shards are the
    natural packing domain anyway: a pack must be readable from one
    shard at training time.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = F.size(F.split(F.col(text_col), " "))
    return (
        df.select(F.col(part_col), F.col(id_col), toks.alias("n_tokens"))
        .withColumn(
            "pack_id",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget
            ).cast("long"),
        )
        .groupBy(part_col, "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
        )
    )
