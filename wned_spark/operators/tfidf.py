"""TF-IDF document-term weights (A3/A4) + sparse-vector cosine (R6).

Replaces the reference's Lucene term-vector index + in-heap context
vectors (``common/indexing/TFIDF3x.java:128-228``,
``graph/similarity/context/MentionContext.java:32-91``) with a plain
``(doc, term, weight)`` DataFrame, folded into one ``map<term, tfidf>``
per document (``sparse_vectors``) where pairs are scored.

Formula pinned to Lucene DefaultSimilarity as the reference uses it
(TFIDF3x.java:128-178): tf = sqrt(freq), idf = 1 + ln(N / (df + 1)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokenize(df: DataFrame, text_col: str, id_cols: list[str]) -> DataFrame:
    """Whitespace+punct tokenizer, lowercased, empty tokens dropped —
    one explode, fully JVM-side (Tokenizer.java:243-305 minus stopword
    machinery, which callers add as a filter)."""
    return df.select(
        *id_cols,
        F.explode(
            # array_remove == the old lambda filter (drops every ''),
            # minus the CodegenFallback higher-order evaluation
            F.array_remove(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), ""
            )
        ).alias("term"),
    )


def doc_term_weights(
    tokens: DataFrame, doc_col: str = "doc", n_docs: DataFrame | None = None
) -> DataFrame:
    """(doc, term) rows → (doc, term, tf, df, tfidf). A3 + A4.

    N (corpus size) joins in as a one-row aggregate (broadcast nested
    loop of a single row) instead of a driver ``count()``: the literal
    would force a full job at PLAN-BUILD time — a serial barrier on
    every pipeline construction, measured at seconds on a corpus-sized
    token table. Callers that can derive N cheaper than a full pass
    over ``tokens`` (e.g. from the un-exploded document table) may pass
    it as a one-row DataFrame with a double column ``n_docs``.

    r07 PLAN SHAPE: tf is computed ONCE (lazy localCheckpoint — one
    pass over the token table), and ``df`` comes from a vocab-sized
    ``groupBy(term).count`` over that materialized tf table joined
    back — tf is distinct on (doc, term) by construction, so the
    per-term row count IS the document frequency. An earlier window
    form (``count(*) over (partition by term)``) shared tf's exchange
    but then SORTED the whole tf table by term — document frequency is
    heavy-tailed, so the hot terms make that both a skewed sort and a
    skewed exchange (guide §2.5). The df aggregate is map-side
    combinable (immune to term skew) and vocabulary-sized, so AQE takes
    a broadcast join back; no second full-table exchange, no sort. (No
    forced broadcast hint: a 10^7-term vocabulary should fall back to a
    shuffle join rather than OOM the driver.)"""
    tf = tokens.groupBy(doc_col, "term").agg(F.count("*").alias("freq"))
    if n_docs is None:
        n_docs = tokens.agg(
            F.countDistinct(doc_col).cast("double").alias("n_docs")
        )
    tf = tf.localCheckpoint(eager=False)
    dfc = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            doc_col,
            "term",
            F.sqrt(F.col("freq")).alias("tf"),
            "df",
            (
                F.sqrt(F.col("freq"))
                * (1.0 + F.log(F.col("n_docs") / (F.col("df") + 1.0)))
            ).alias("tfidf"),
        )
    )


def surface_context_weights(
    mentions: DataFrame,
    transcripts: DataFrame,
    window_turns: int = 2,
) -> DataFrame:
    """WNED's "local" feature source (MentionContext.java:32-91 +
    TFIDF3x.java:197-228) recast for surfaces: the context document of
    a surface is the text of every turn within ``window_turns`` of any
    of its mentions; weights are the same Lucene-style tf-idf as
    ``doc_term_weights``.

    Returns (sid, term, tf, df, tfidf). One join (mentions ⋈ turns on
    conv_id + turn-window range) + one explode + two aggs — linear in
    mention count, never in surface-pair count."""
    key_col = "canon_norm" if "canon_norm" in mentions.columns else "surface_norm"
    m = mentions.select(
        "conv_id",
        F.col("turn_idx").alias("mt"),
        F.xxhash64(F.col(key_col)).alias("sid"),
    )
    t = transcripts.select("conv_id", F.col("turn_idx").alias("tt"), "text")
    ctx = (
        m.join(t, "conv_id")
        .filter(F.abs(F.col("mt") - F.col("tt")) <= window_turns)
        .select("sid", "text")
    )
    toks = tokenize(ctx, "text", ["sid"])
    # N from the un-exploded context rows (r07, guide §2.3): a sid
    # contributes >=1 token iff one of its context texts contains a
    # [a-z0-9] char — equals countDistinct(sid) over the exploded
    # tokens without re-running the explode pass
    n_docs = (
        ctx.filter(F.lower(F.col("text")).rlike("[a-z0-9]"))
        .select("sid")
        .distinct()
        .agg(F.count("*").cast("double").alias("n_docs"))
    )
    return doc_term_weights(toks, "sid", n_docs=n_docs)


def pairwise_cosine(rows: DataFrame, vectors: DataFrame) -> DataFrame:
    """R6 cosine between document vectors, added as ``ctx_cosine`` to
    pair rows ``(left_sid, right_sid, ...)``. ``vectors`` is
    ``(sid, ctx)`` (:func:`~wned_spark.functions.similarity.
    sparse_vectors` over :func:`surface_context_weights`, a map term →
    tfidf): each row joins its two vectors, one left join per side, and
    takes dot and norms in term order — no (pair × term) join, no
    aggregate, no join back, and the same bits under any physical plan.
    A side without a vector scores 0."""
    from wned_spark.functions.similarity import sparse_cosine, with_pair_vectors

    return (
        with_pair_vectors(rows, vectors, "ctx")
        .withColumn("ctx_cosine", sparse_cosine(F.col("ctx_l"), F.col("ctx_r")))
        .drop("ctx_l", "ctx_r")
    )
