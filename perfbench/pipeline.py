"""The dedup / ANN batch workload: one pass of ten catalog queries from
operators/dedup.py and operators/similarity.py, each built through
`suite.QUERIES` and written to the noop sink.

Inputs are seeded `documents` and `embeddings` tables with the schemas
of the repository's test fixtures, written under the run's own directory.  Each
answer is compared with the suite's DuckDB `oracle_sql` on the same
files.  `dedup_minhash_lsh` has no oracle: its result hash must match
the hash of the same query run again under a second configuration
(one shuffle partition, AQE off).
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from zikeiretsu_rs_spark import suite
from zikeiretsu_rs_spark.operators import similarity

from perfbench.harness import Op, dir_bytes

QUERIES = (
    "dedup_ngram_jaccard", "dedup_jaccard_prefix", "dedup_minhash_lsh",
    "dedup_incremental", "source_overlap_matrix", "dedup_clusters_scaled",
    "ann_cosine_topk", "semantic_dedup", "semantic_dedup_lake",
    "embedding_quantize",
)
NO_ORACLE = "dedup_minhash_lsh"
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
DIM = 64


def make_documents(rng, n: int) -> pd.DataFrame:
    """Random-word documents; ~15% are near-copies of an earlier one
    (one word changed, `dup` appended), so every dedup query has pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 5 and rng.random() < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def make_embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around 10 labelled centres, so ANN and semantic
    dedup find neighbours above their thresholds."""
    centres = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n)
    m = centres[label] * 0.35 + rng.normal(size=(n, DIM))
    m = (m / np.linalg.norm(m, axis=1)[:, None]).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    try:
        pd.testing.assert_frame_equal(
            normalize(got), normalize(want), check_dtype=False, check_exact=True
        )
    except AssertionError:
        return False
    return True


def frame_hash(pdf: pd.DataFrame) -> str:
    return hashlib.sha256(normalize(pdf).to_csv(index=False).encode()).hexdigest()


class PipelineDedupAnn:
    """One closed-loop client running the ten queries in a fixed order;
    a round is one batch pass."""

    # one pass per loop, however fast: a second pass would be warm and
    # measure something else than the first
    max_rounds = 1

    def __init__(self, run):
        self.run = run
        self.fx_dir = None
        self.index_path = None

    def setup(self, rep_dir: str) -> None:
        """Generate and write the inputs, then build the IVF lake index
        `semantic_dedup_lake` probes (corpus = vec_id % 4 != 0, first-8-ids
        centroids, cosine cells) -- the suite query's own composition,
        with the index kept in the run's directory."""
        spark = self.run.spark
        rng = np.random.default_rng(self.run.seed)
        fx = os.path.join(rep_dir, "fixtures")
        os.makedirs(fx)
        docs = make_documents(rng, self.run.size.docs)
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                       f"{fx}/documents.parquet")
        pq.write_table(make_embeddings(rng, self.run.size.vecs), f"{fx}/embeddings.parquet")
        emb = suite.load(spark, fx, "embeddings")
        cents = similarity.head_centroids(emb, 8, "vec_id", "embedding")
        index = os.path.join(rep_dir, "ivf_sem")
        similarity.ivf_write_index(emb.where("vec_id % 4 != 0"), index, cents, metric="cosine")
        self.fx_dir, self.index_path = fx, index

    def start(self) -> None:
        """Oracle answers for the inputs (untimed, once)."""
        con = duckdb.connect(config={"temp_directory": os.path.join(self.run.work, "duckdb")})
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"create view {t} as select * from '{self.fx_dir}/{t}.parquet'")
            sqls = suite.oracle_sql()
            self.oracle = {q: con.execute(sqls[q]).df() for q in QUERIES if q != NO_ORACLE}
        finally:
            con.close()
        self.minhash_hashes: list[str] = []
        if self.run.corrupt:  # injected wrong expectations
            self.oracle = {q: df.iloc[:-1] for q, df in self.oracle.items()}

    def warm_ops(self) -> list[Op]:
        return []  # the measured pass is the session's first: cold

    def build(self, q: str):
        spark = self.run.spark
        if q == "semantic_dedup_lake":
            batch = suite.load(spark, self.fx_dir, "embeddings").where("vec_id % 4 == 0")
            return similarity.semantic_dedup_lake(spark, self.index_path, batch, threshold=0.40)
        return suite.QUERIES[q](spark, self.fx_dir)

    def round(self) -> list[Op]:
        return [self._op(q) for q in QUERIES]

    def _op(self, q: str) -> Op:
        tracer = self.run.tracer

        def call():
            with tracer.span(f"pipeline.{q}.build"):
                df = self.build(q)
            with tracer.span(f"pipeline.{q}.execute"):
                df.write.format("noop").mode("overwrite").save()
            return df

        def check(df):
            # re-collecting the same Dataset reuses its shuffle output
            got = df.toPandas()
            if q == NO_ORACLE:
                self.minhash_hashes.append(frame_hash(got))
                ok = True  # settled in finish(), against the second config
            else:
                ok = same_frame(got, self.oracle[q])
            return ok, len(got), int(got.memory_usage(deep=True).sum())

        return Op(kind=q, call=call, check=check)

    def finish(self) -> int:
        """The no-oracle query: every pass's result hash must equal the
        hash under one shuffle partition with AQE off.  Returns the
        number of passes that did not."""
        spark = self.run.spark
        saved = {k: spark.conf.get(k) for k in
                 ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")}
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            ref = frame_hash(self.build(NO_ORACLE).toPandas())
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        if self.run.corrupt:
            ref = "0" * len(ref)
        return sum(h != ref for h in self.minhash_hashes)

    def storage_ratio(self) -> float:
        """IVF index bytes over the corpus vectors' own bytes."""
        corpus = sum(1 for i in range(self.run.size.vecs) if i % 4 != 0)
        return dir_bytes(self.index_path) / (corpus * (8 + 4 * DIM + 4))

    def close(self) -> None:
        pass
