"""Engine — the single user-facing facade (SURVEY.md §3.2).

A user of the reference package constructs one `DataLakeGen2Client` and
calls storage verbs on it (client.py:630-631). The analogous surface here
is one ``Engine``: attach to a lake (local dir or abfss://), get tables,
run SQL, and call the named operators. It is a veneer — every method
returns a plain ``DataFrame`` and all planning stays in Catalyst.

    eng = Engine.local("/root/testdata/sf0.01")
    eng.sql("SELECT count(*) FROM lineitem").show()
    eng.asof_join(purchases, clicks, on="user_id", ...)
    eng.dedup_exact(eng.table("documents"), text_col="text")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pydatalake_gen2_spark.operators import dedup, similarity, text
from pydatalake_gen2_spark.operators.asof import asof_join as _asof
from pydatalake_gen2_spark.operators.joins import salted_join as _salted
from pydatalake_gen2_spark.session import get_spark
from pydatalake_gen2_spark.sources.lake import LakeCatalog, configure_abfss
from pydatalake_gen2_spark.tables import register_views


class Engine:
    """One lake, one SparkSession, the whole declared operator surface."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.catalog = LakeCatalog(spark, root)

    # -- construction ------------------------------------------------------
    @classmethod
    def local(cls, sf_dir: str, app_name: str = "engine", **conf) -> "Engine":
        """Attach to a local directory of parquet fixture tables."""
        eng = cls(get_spark(app_name, **conf), sf_dir)
        register_views(eng.spark, sf_dir)
        return eng

    @classmethod
    def adls(
        cls, account: str, key: str, filesystem: str, app_name: str = "engine"
    ) -> "Engine":
        """Attach to an ADLS Gen2 filesystem (connector-signed; replaces
        the reference's SharedKey HMAC path, client.py:143-178)."""
        spark = get_spark(app_name)
        suffix = configure_abfss(spark, account, key)
        return cls(spark, f"abfss://{filesystem}@{suffix}/")

    # -- core query surface ------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def read_parquet(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    # -- named operators (the engine's real code) ---------------------------
    def asof_join(self, left, right, **kw) -> DataFrame:
        return _asof(left, right, **kw)

    def salted_join(self, left, right, lk, rk, **kw) -> DataFrame:
        return _salted(left, right, lk, rk, **kw)

    def dedup_exact(self, df, text_col: str = "text", **kw) -> DataFrame:
        return dedup.dedup_exact(df, text_col=text_col, **kw)

    def near_dups(self, df, **kw) -> DataFrame:
        return dedup.minhash_candidate_pairs(df, **kw)

    def simhash(self, df, **kw) -> DataFrame:
        return dedup.simhash(df, **kw)

    def k_core(self, edges, k: int, **kw) -> DataFrame:
        """Dense-kernel extraction: iterative peeling to the unique
        k-core (operators/graph.k_core, GR03)."""
        from pydatalake_gen2_spark.operators.graph import k_core

        return k_core(edges, k, **kw)

    def bfs_distances(self, edges, seeds, **kw) -> DataFrame:
        """Multi-source BFS hop distances from a seed set
        (operators/graph.bfs_distances, GR04)."""
        from pydatalake_gen2_spark.operators.graph import bfs_distances

        return bfs_distances(edges, seeds, **kw)

    def connected_components(self, edges, **kw) -> DataFrame:
        return dedup.connected_components(edges, **kw)

    def dedup_clusters(self, df, **kw) -> DataFrame:
        return dedup.dedup_clusters(df, **kw)

    def cosine_topk(self, corpus, queries, k: int, **kw) -> DataFrame:
        return similarity.cosine_topk(corpus, queries, k, **kw)

    def lsh_topk(self, corpus, k: int, **kw) -> DataFrame:
        return similarity.lsh_topk(corpus, k, **kw)

    def ivf_topk(self, corpus, k: int, **kw) -> DataFrame:
        return similarity.ivf_topk(corpus, k, **kw)

    def simhash_neardups(self, df, r: int = 4, **kw) -> DataFrame:
        # Capped (band_max_df=1000) by default — scale-safe, recall-lossy
        # on hot bands; pass exact_recall=True for the pigeonhole
        # contract, and audit what the cap drops via simhash_dropped_bands.
        return dedup.simhash_neardup_pairs(df, r=r, **kw)

    def simhash_dropped_bands(self, df, r: int = 4, **kw) -> DataFrame:
        """Audit the default cap: band buckets simhash_neardups would drop
        (empty = capped and exact forms identical on this corpus)."""
        return dedup.simhash_dropped_bands(df, r=r, **kw)

    def semdedup(self, corpus, n_cells: int = 16, tau: float = 0.97, **kw) -> DataFrame:
        return dedup.semdedup(corpus, n_cells=n_cells, tau=tau, **kw)

    def bloom_build(self, keys, key_col: str, **kw) -> DataFrame:
        from pydatalake_gen2_spark.operators import bloom

        return bloom.build_bloom(keys, key_col, **kw)

    def pq_train(self, corpus, **kw):
        from pydatalake_gen2_spark.operators import pq

        return pq.pq_train(corpus, **kw)

    def pq_encode(self, df, codebooks, **kw) -> DataFrame:
        from pydatalake_gen2_spark.operators import pq

        return pq.pq_encode(df, codebooks, **kw)

    def pq_topk(self, corpus, queries, k: int, codebooks, **kw) -> DataFrame:
        from pydatalake_gen2_spark.operators import pq

        return pq.pq_topk(corpus, queries, k, codebooks, **kw)

    def pq_rerank(self, corpus, queries, k: int, codebooks, **kw) -> DataFrame:
        from pydatalake_gen2_spark.operators import pq

        return pq.pq_rerank(corpus, queries, k, codebooks, **kw)

    def ivfpq_topk(self, corpus, k: int, codebooks, centroids, **kw) -> DataFrame:
        from pydatalake_gen2_spark.operators import pq

        return pq.ivfpq_topk(corpus, k, codebooks, centroids, **kw)

    def nearest_join(self, left, right, **kw) -> DataFrame:
        from pydatalake_gen2_spark.operators.asof import nearest_join

        return nearest_join(left, right, **kw)

    def versioned_table(self, root: str) -> "VersionedTable":
        from pydatalake_gen2_spark.sources.versioned import VersionedTable

        return VersionedTable(self.spark, root)

    def global_row_ids(self, df, order_cols, **kw) -> DataFrame:
        """Distributed zipWithIndex — ROW_NUMBER ids without a global sort
        (operators/rowid.py). The ranked intermediate is held by
        ``operators.util.HELD``: call ``release_persisted()`` after
        consuming the result."""
        from pydatalake_gen2_spark.operators.rowid import global_row_ids

        return global_row_ids(df, order_cols, **kw)

    def repetition_metrics(self, df, **kw) -> DataFrame:
        return text.repetition_metrics(df, **kw)

    def token_frequencies(self, df, **kw) -> DataFrame:
        return text.token_frequencies(df, **kw)

    def fingerprint(self, df, **kw) -> DataFrame:
        return text.fingerprint(df, **kw)

    def tfidf_top_terms(self, df, **kw) -> DataFrame:
        return text.tfidf_top_terms(df, **kw)

    def language_id(self, df, **kw) -> DataFrame:
        return text.language_id(df, **kw)

    def quality_score(self, df, **kw) -> DataFrame:
        return text.quality_score(df, **kw)

    def line_dedup(self, df, **kw) -> DataFrame:
        return dedup.line_dedup(df, **kw)

    def span_dedup(self, df, L: int = 10, **kw) -> DataFrame:
        return dedup.span_dedup(df, L=L, **kw)

    def chunk_tokens(self, df, **kw) -> DataFrame:
        return text.chunk_tokens(df, **kw)

    def bm25(self, df, query_terms: list[str], **kw) -> DataFrame:
        return text.bm25_scores(df, query_terms, **kw)

    def char_entropy(self, df, **kw) -> DataFrame:
        return text.char_entropy(df, **kw)

    def scd2_history(self, changes, key_cols, ts_col, attr_cols, **kw) -> DataFrame:
        from pydatalake_gen2_spark.operators.merge import scd2_history

        return scd2_history(changes, key_cols, ts_col, attr_cols, **kw)

    def scd2_merge(self, dim, changes, key_cols, ts_col, attr_cols, **kw) -> DataFrame:
        from pydatalake_gen2_spark.operators.merge import scd2_merge

        return scd2_merge(dim, changes, key_cols, ts_col, attr_cols, **kw)

    def merge_upsert(self, target, source, key_cols, **kw) -> DataFrame:
        """ANSI MERGE (Type-1): update matched, insert unmatched, carry
        the rest — see operators/merge.merge_upsert (J25)."""
        from pydatalake_gen2_spark.operators.merge import merge_upsert

        return merge_upsert(target, source, key_cols, **kw)

    def kmeans(self, df, k: int = 8, iters: int = 2, dim: int = 64, **kw):
        """Distributed EXACT Lloyd k-means over integer-quantized vectors
        (operators/kmeans.py, LX-KMEANS): bit-reproducible across
        partitionings/retries — the full-corpus IVF-trainer shape.
        Returns (centroids, assignment DataFrame)."""
        from pydatalake_gen2_spark.operators import kmeans as km

        pts = km.quantize(df, **kw)
        return km.lloyd(pts, k=k, iters=iters, dim=dim)

    def zorder_write(self, df, xcol: str, ycol: str, path: str, n_files: int = 8) -> str:
        """Z-order (Morton) clustered layout write — multi-dimensional
        data skipping via tight per-file min/max envelopes (S40)."""
        from pydatalake_gen2_spark.queries.scans import zorder_layout

        return zorder_layout(df, xcol, ycol, path, n_files)

    # -- streaming ----------------------------------------------------------
    def stream_events(self, sf_dir: str | None = None) -> DataFrame:
        from pydatalake_gen2_spark.streaming import replay

        return replay.read_stream(self.spark, sf_dir or self.root)
