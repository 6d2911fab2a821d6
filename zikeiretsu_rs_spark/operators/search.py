"""Full-text relevance scoring (BM25) over the document lake.

A corpus-analysis staple for training-data work: given a set of probe
queries, rank documents by Okapi BM25 — used for eval-leakage hunting
("which training docs score suspiciously high against this benchmark
question"), targeted subset mining, and sanity-checking dedup output.

Scale shape (classic distributed inverted-index computation, all
built-in expressions):

- term frequencies: one explode + map-side-combined groupBy on
  (doc, term) — linear in corpus tokens;
- document frequencies: groupBy on term over the already-reduced tf
  table;
- corpus stats (N, avgdl): a 1-row aggregate broadcast into the plan;
- the query side is tiny and broadcast; the score join touches only
  postings of query terms (the inverted-index prune — cost scales
  with matched postings, not the corpus);
- top-k per query: keyed window over the reduced (query, doc) rows.

Engine-exact determinism: each per-term score is a deterministic
scalar expression (identical IEEE doubles in any engine); summing
them in float would be partition-order-dependent, so term scores are
rounded to 9 decimals and accumulated in DECIMAL(28,9) — exact,
order-independent, reproducible bit-for-bit (the repo-wide decimal
rule for float aggregates). Ranking breaks ties by doc id (total
order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import words_col


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k documents per query.

    idf = ln(1 + (N - df + 0.5) / (df + 0.5))  (the non-negative
    Robertson-Sparck-Jones variant); score(q, d) = sum over distinct
    query terms of idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).

    Output: query_id, doc_id, score (round 6), rank (1..k, ties by
    doc id).
    """
    ws = words_col(F.col(text_col))
    toks = docs.select(F.col(id_col), F.explode(ws).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # dl and the corpus stats use size(ws) — a column scan with no
    # explode, far cheaper than deriving lengths from the posting
    # table. The tf lineage still appears in two branches (postings +
    # df) — at lake scale you materialize the posting table once
    # (write tf to the lake) and both branches read the reduced table
    # instead of re-exploding the corpus.
    dl = docs.select(F.col(id_col), F.size(ws).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfc"))
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(words_col(F.col(query_text_col)))
        ).alias("term"),
    )
    joined = (
        F.broadcast(qterms)
        .join(tf, "term")
        .join(dfreq, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfc") + F.lit(0.5))
        / (F.col("dfc") + F.lit(0.5))
    )
    term_score = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        joined.withColumn(
            "_ts", F.round(term_score, 9).cast("decimal(28,9)")
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("_ts").alias("_s"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_s").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col),
            F.round(F.col("_s").cast("double"), 6).alias("score"),
            "rank",
        )
    )


def phrase_match(
    docs: DataFrame,
    phrases: DataFrame,
    id_col: str,
    text_col: str,
    phrase_id_col: str = "phrase_id",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Exact multi-word phrase matching via a positional inverted
    index — the classic IR formulation, one equi-join instead of a
    full-text substring scan.

    Postings are (doc, term, position) from a single posexplode.
    Each phrase explodes to (phrase, idx, term); joining postings to
    phrase terms on `term` and grouping by the implied anchor
    position (pos - idx) finds full occurrences: an anchor with
    phrase_len matched rows has every phrase word at its required
    offset (each (doc, anchor+idx) position holds exactly one term,
    so the count cannot double). Overlapping occurrences are counted
    correctly — each anchor is its own group (substring-replace
    counting would miss overlaps).

    Scale shape: the phrase side is tiny and broadcast; the join
    touches only postings whose term appears in some phrase (inverted
    -index prune), cost ~ matched postings, never corpus size.

    Output: phrase_id, doc id, n_occurrences, first_pos (0-based
    token offset of the first occurrence).
    """
    from .text import words_col

    toks = docs.select(
        F.col(id_col),
        F.posexplode(words_col(F.col(text_col))).alias("pos", "term"),
    )
    pw = words_col(F.col(phrase_col))
    pterms = phrases.select(
        F.col(phrase_id_col).alias("phrase_id"),
        F.size(pw).alias("plen"),
        F.posexplode(pw).alias("idx", "term"),
    )
    return (
        toks.join(F.broadcast(pterms), "term")
        .select(
            F.col(id_col),
            "phrase_id",
            "plen",
            (F.col("pos") - F.col("idx")).alias("anchor"),
        )
        .groupBy(id_col, "phrase_id", "plen", "anchor")
        .agg(F.count("*").alias("_hits"))
        .where(F.col("_hits") == F.col("plen"))
        .groupBy(id_col, "phrase_id")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("anchor").alias("first_pos"),
        )
    )


def tfidf_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
) -> DataFrame:
    """Cosine-normalized TF-IDF retrieval — the classic vector-space
    sibling of `bm25_topk`, sharing its posting-table join shape
    (broadcast query terms ⋈ tf ⋈ df, 1-row stats broadcast, DECIMAL
    term-score accumulation).

    w(t, d) = (1 + ln tf) * ln(N / df); score(q, d) =
    sum over distinct query terms of w(t, d) / ||d||, where ||d|| is
    the document's TF-IDF L2 norm over ALL its terms. Query-side
    weights are uniform (set-of-terms query), so ranking matches the
    standard lnc.ltc scheme up to the query-constant factor.

    Plan shape (optimization round 14): the posting table (id, term,
    tf) is localCheckpointed ONCE — Catalyst has no cross-branch
    common-subexpression reuse, so without it the norm branch and the
    score branch each re-derived the full corpus explode + (id, term)
    aggregate (4 Generates / 4 posting HashAggregates in the old
    plan, 1 of each now; interleaved A/B 0.88x at sf0.1, output
    identical). The eager checkpoint is the in-query form of the
    lake-scale posture `bm25_topk` documents (materialize the posting
    table once; every branch reads the reduced table). ||d|| rides an
    id-partitioned WINDOW over the weighted posting rows instead of a
    groupBy + join-back — a per-doc partition is bounded by document
    length, so unlike a term-keyed window there is no hot-key
    straggler hazard. Doc-frequency stays a groupBy + join-back (NOT
    a term-keyed window): a boilerplate term's window partition would
    be unsplittable, while the groupBy partial-aggregates hot terms
    map-side and leaves the join-back as an exchange AQE can split
    on skew.

    Output: query_id, doc_id, score (round 6), rank (1..k, ties by
    doc id).
    """
    ws = words_col(F.col(text_col))
    toks = docs.select(F.col(id_col), F.explode(ws).alias("term"))
    tf = (
        toks.groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        # eager: materialized before the two consumer branches run,
        # so neither can race-recompute the explode subtree
        .localCheckpoint()
    )
    stats = docs.agg(F.count("*").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfc"))
    weighted = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_w",
            (F.lit(1.0) + F.log("tf"))
            * F.log(F.col("n_docs") / F.col("dfc")),
        )
        # document L2 norms over ALL terms, on the same rows
        .withColumn(
            "_norm",
            F.sqrt(
                F.sum(F.col("_w") * F.col("_w")).over(
                    Window.partitionBy(id_col)
                )
            ),
        )
    )
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(words_col(F.col(query_text_col)))
        ).alias("term"),
    )
    scored = (
        F.broadcast(qterms)
        .join(weighted, "term")
        .withColumn(
            "_ts",
            F.round(
                F.when(F.col("_norm") > 0, F.col("_w") / F.col("_norm"))
                .otherwise(F.lit(0.0)),
                9,
            ).cast("decimal(28,9)"),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("_ts").alias("_s"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_s").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col),
            F.round(F.col("_s").cast("double"), 6).alias("score"),
            "rank",
        )
    )
