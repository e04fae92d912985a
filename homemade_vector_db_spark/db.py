"""`VectorDatabase` facade — the reference's class shape on Spark.

Mirrors the public API of /root/reference/local_db.py:11 (`add`,
`query_text`, `query_vector`, `query_metadata`, `hybrid_search`,
`get_document`, `get_metadata`, `save`, `load`, `__len__`) so reference
users can port call sites 1:1, while every method compiles to a declarative
DataFrame plan.

State: one materialized `documents` corpus (doc_id, text, embedding, meta
columns), at most one set of derived BM25 stats and, on the graph tier,
one materialized graph — the Spark analogue of the reference's parallel
lists (local_db.py:35-38). Every mutation (`attach`/`load`, `add`,
`merge`, `delete`, `update`) builds its successor from the current
corpus, materializes it as an eager local checkpoint and releases the
corpus, stats and graph it supersedes (`session.materialize`). Reads
therefore scan one in-memory relation whose plan size stays constant
however many adds came before, instead of re-running a growing union of
every add (README.md:152's full-rebuild-per-add is avoided too: stats
rebuild lazily). Local checkpoints have no lineage: if an executor holding
corpus blocks is lost, reads fail rather than recompute — `save` is the
durable form. A DataFrame handed out by the facade
(`query_metadata(as_dataframe=True)`) is valid until the next mutation.
Persistence is parquet + a JSON manifest instead of pickle sniffing
(local_db.py:210-265).

index_type: 'flat' → exact brute-force (default; the only hash-checkable
path, mirroring test_local_db.py:155-157's "flat is exact" stance);
'lsh' (HNSW role) and 'ivf' (coarse-cell role) → ann.py, recall-tested;
'ivfpq' → the REAL residual-encoded IVF-PQ tier (pq.build_ivfpq — ADC
shortlist over probed cells, exact rerank; faiss IndexIVFPQ parity);
'nsw' (graph tier behind the 'hnsw' alias) → nsw.py; 'sq8' / 'bq' /
'ivfbq' (compressed shortlist → exact rerank; ivfbq adds coarse-cell
scan pruning) → sq.py / bq.py; 'opq' (rotated PQ — FAISS OPQMatrix
role: PCA rotation + eigenvalue-balanced subspaces ahead of the PQ
kernel, ADC shortlist → exact rerank) → opq.py; 'ivfopq' (the FAISS
OPQ{m}+IVF{nlist},PQ{m} stack: rotation ahead of coarse cells AND
residual codebooks, probed-cell ADC → exact original-frame rerank)
→ opq.py.
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homemade_vector_db_spark.operators import bm25, hybrid, knn
from homemade_vector_db_spark.session import materialize, release


def _clamp_m(pq_code_size: int, dim: int) -> int:
    """The shared PQ subspace-count law for the opq/ivfopq/ivfpq facade
    tiers: m = pq_code_size clamped to a divisor of dim (faiss would
    throw on a non-divisor — we degrade gracefully), validated ≥ 1."""
    if pq_code_size < 1:
        raise ValueError(f"pq_code_size must be >= 1, got {pq_code_size}")
    m = min(pq_code_size, dim)
    while dim % m != 0:
        m -= 1
    return m


_INDEX_TYPES = (
    "flat", "lsh", "ivf", "ivfpq", "nsw", "sq8", "bq", "ivfbq", "opq",
    "ivfopq",
)
# Reference spellings (local_db.py:24: 'hnsw' | 'flat' | 'ivfpq') map onto
# the Spark-native tier that fills the same role, so reference call sites
# port 1:1. "hnsw" maps to the sharded NSW GRAPH tier (operators/nsw.py)
# so the reference's M / ef_construction / ef_search kwargs are live, not
# inert. "ivfpq" is the REAL residual-encoded IVF-PQ tier (operators/pq.py
# build_ivfpq — the faiss IndexIVFPQ layout the reference wraps,
# local_db.py:49-52): ADC shortlist over probed cells, exact rerank;
# pq_code_size maps to m.
_INDEX_ALIASES = {"hnsw": "nsw"}


class VectorDatabase:
    def __init__(
        self,
        spark: SparkSession,
        dim: int,
        index_type: str = "flat",
        id_col: str = "doc_id",
        text_col: str = "text",
        vec_col: str = "embedding",
        ef_construction: int = 200,
        M: int = 16,
        ivf_clusters: int = 100,
        pq_code_size: int = 16,
        ef_search: int = 50,
        init_index: bool = True,
    ):
        """Reference constructor shape (local_db.py:21-54) ports 1:1.

        Tuning-kwarg mapping onto the Spark tiers:
        - `ivf_clusters` → IVF nlist (same meaning as FAISS nlist);
        - `ef_search` → IVF nprobe-style probe width at query time
          (HNSW's beam width plays the same recall/cost role);
        - `ef_construction` / `M` / `pq_code_size` are HNSW-graph / PQ
          build params with no direct analogue in the LSH tier — accepted
          and recorded so reference call sites run, documented as
          inert (build_pq takes its own m/codebook_size);
        - `init_index` is inert: all derived state here is lazy.
        """
        # parity: reject unknown index types (local_db.py:53-54);
        # reference spellings alias to their Spark-native tier
        index_type = _INDEX_ALIASES.get(index_type, index_type)
        if index_type not in _INDEX_TYPES:
            raise ValueError(
                f"index_type must be one of {_INDEX_TYPES} "
                f"(or reference aliases {tuple(_INDEX_ALIASES)}), got {index_type!r}"
            )
        self.spark = spark
        self.dim = dim
        self.index_type = index_type
        self.id_col, self.text_col, self.vec_col = id_col, text_col, vec_col
        self.ef_construction, self.M, self.ef_search = ef_construction, M, ef_search
        self.ivf_clusters, self.pq_code_size = ivf_clusters, pq_code_size
        self.init_index = init_index
        self._df: DataFrame | None = None
        self._stats: bm25.BM25Stats | None = None
        self._ann_index = None  # LSHIndex | IVFIndex, built lazily
        self._n = 0
        # high-water mark for id assignment: bumped by add, never reduced
        # by delete, so deleted ids are never reissued to new documents
        # (id reuse would silently alias two docs in BM25/knn results).
        # None = unknown (attached/loaded df) → computed lazily as max(id)+1.
        self._next_id: int | None = 0
        # graph-tier build target; small values let tests exercise the
        # add-stream rebalance trigger without thousands of rows
        self._nsw_rows_per_shard = 2000

    # ------------------------------------------------------------------ ingest
    def add(
        self,
        docs: Sequence[str],
        vectors: Sequence[Sequence[float]],
        metas: Sequence[Mapping[str, Any]] | None = None,
    ) -> None:
        """Append rows with dense insertion-ordered ids (local_db.py:56-80).

        Unlike the reference, BM25 stats are invalidated lazily, not rebuilt
        eagerly per batch.
        """
        if len(docs) != len(vectors):
            raise ValueError("docs and vectors must have equal length")
        for v in vectors:
            if len(v) != self.dim:
                raise ValueError(f"vector dim {len(v)} != {self.dim}")
        metas = list(metas) if metas is not None else [{} for _ in docs]
        start = self._ensure_next_id()
        rows = [
            (start + i, d, [float(x) for x in v], {k: str(val) for k, val in m.items()})
            for i, (d, v, m) in enumerate(zip(docs, vectors, metas))
        ]
        schema = T.StructType(
            [
                T.StructField(self.id_col, T.LongType()),
                T.StructField(self.text_col, T.StringType()),
                T.StructField(self.vec_col, T.ArrayType(T.FloatType())),
                T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        new = self.spark.createDataFrame(rows, schema)
        self._set_corpus(new if self._df is None else self._df.unionByName(new))
        self._n += len(rows)
        self._next_id = start + len(rows)
        self._maintain_index_on_append(new)

    def _set_corpus(self, df: DataFrame) -> None:
        """The one way the corpus changes: materialize `df` (which may
        read the current corpus), release the corpus it supersedes and
        the BM25 stats derived from it (rebuilt lazily)."""
        self._df = materialize(df, supersedes=self._df)
        if self._stats is not None:
            self._stats.unpersist()
            self._stats = None

    def _drop_index(self) -> None:
        """Forget the ANN index, releasing the graph tier's graph."""
        from homemade_vector_db_spark.operators import nsw as nswmod

        if isinstance(self._ann_index, nswmod.NSWIndex):
            release(self._ann_index.graph)
        self._ann_index = None

    def _maintain_index_on_append(self, new: DataFrame) -> None:
        """Per-tier incremental index maintenance for an appended row
        block (shared by add and merge): IVF/SQ/BQ encode with frozen
        trained geometry; the graph tier inserts incrementally and
        auto-rebalances; other tiers rebuild lazily."""
        if self._ann_index is not None and self.index_type == "ivf":
            # incremental maintenance: assign the batch to existing cells
            # (no refit) — vs the reference rebuilding per add
            # (local_db.py:82-111)
            from homemade_vector_db_spark.operators import ann

            self._ann_index = ann.ivf_add(self._ann_index, new)
        elif self._ann_index is not None and self.index_type == "ivfpq":
            from homemade_vector_db_spark.operators import pq as pqmod

            self._ann_index = pqmod.ivfpq_add(self._ann_index, new)
        elif self._ann_index is not None and self.index_type == "sq8":
            # add-after-train: encode with the FROZEN trained geometry
            from homemade_vector_db_spark.operators import sq as sqmod

            self._ann_index = sqmod.sq_add(self._ann_index, new)
        elif self._ann_index is not None and self.index_type == "bq":
            from homemade_vector_db_spark.operators import bq as bqmod

            self._ann_index = bqmod.bq_add(self._ann_index, new)
        elif self._ann_index is not None and self.index_type == "opq":
            from homemade_vector_db_spark.operators import opq as opqmod

            self._ann_index = opqmod.opq_add(self._ann_index, new)
        elif self._ann_index is not None and self.index_type == "ivfopq":
            from homemade_vector_db_spark.operators import opq as opqmod

            self._ann_index = opqmod.ivfopq_add(self._ann_index, new)
        elif self._ann_index is not None and self.index_type in ("hnsw", "nsw"):
            # incremental graph insert — hnswlib add_items parity
            # (local_db.py:78-80): same shard hash, same level law, the
            # shared insertion loop continues from the existing graph
            from homemade_vector_db_spark.operators import nsw as nswmod

            if self._ann_index.n_shards <= 0:
                # legacy pre-round-4 manifest (shard count unknown):
                # db.add already knows how to rebalance, so repair here
                # instead of surfacing nsw_add's operator-level ValueError
                # — the hard error stays for direct operator use.
                self._ann_index = nswmod.nsw_rebalance(
                    self._ann_index, rows_per_shard=self._nsw_rows_per_shard
                )
            self._ann_index = nswmod.nsw_add(self._ann_index, new)
            # hnswlib resize analogue (local_db.py:45 max_elements): a
            # long add stream keeps the shard count fixed (it is index
            # identity), so shards fatten until the per-shard sequential
            # insert/beam dominates. When mean shard size reaches 4x the
            # build-time target, re-shard offline — recall is preserved
            # (levels are an id-hash law; links re-prune under the same
            # discipline), only shard membership changes.
            idx = self._ann_index
            if self._n >= 4 * idx.rows_per_shard * idx.shard_count():
                self._ann_index = nswmod.nsw_rebalance(
                    idx, rows_per_shard=idx.rows_per_shard
                )
        else:
            self._drop_index()

    def _maintain_index_on_delete(
        self, id_list: "list[int]", for_update: bool = False
    ) -> None:
        """Per-tier incremental maintenance for a deleted id block
        (VERDICT r10 Next #7 — mutation-driven maintenance instead of
        fingerprint-rotation full rebuilds): the code tiers (IVF /
        IVF-PQ / PQ / SQ8 / BQ) store per-row codes against FROZEN
        trained geometry, so deletion is an exact filter of the code
        relation — search results equal a from-scratch rebuild minus
        the rows (the geometry never depended on individual rows being
        present). The graph tier (hnsw/nsw) mark-deletes (round 11 —
        nsw.nsw_delete, the hnswlib mark_deleted analogue: tombstones
        stay for routing, search excludes them, rebalance GCs them);
        for an UPDATE the graph tier instead rebuilds lazily — the
        replacement row would collide with its own tombstone in the
        per-shard insertion state, and hnswlib's in-place replace has
        the same repair caveat."""
        import dataclasses

        idx = self._ann_index
        if idx is None:
            return
        t = self.index_type
        cond = ~F.col(self.id_col).isin(id_list)
        if t == "ivf":
            self._ann_index = dataclasses.replace(
                idx, assignments=idx.assignments.where(cond)
            )
        elif t == "ivfpq":
            self._ann_index = dataclasses.replace(
                idx,
                pq=dataclasses.replace(
                    idx.pq, codes=idx.pq.codes.where(cond)
                ),
                codes_with_cluster=idx.codes_with_cluster.where(cond),
            )
        elif t in ("pq", "sq8", "bq"):
            self._ann_index = dataclasses.replace(
                idx, codes=idx.codes.where(cond)
            )
        elif t == "opq":
            # codes live on the inner rotated-frame PQ index; frozen
            # rotation/codebooks never depended on the deleted rows
            self._ann_index = dataclasses.replace(
                idx,
                pq_index=dataclasses.replace(
                    idx.pq_index, codes=idx.pq_index.codes.where(cond)
                ),
            )
        elif t == "ivfopq":
            # same law one level deeper: the rotated-frame IVF-PQ codes
            self._ann_index = dataclasses.replace(
                idx,
                ivfpq=dataclasses.replace(
                    idx.ivfpq,
                    pq=dataclasses.replace(
                        idx.ivfpq.pq, codes=idx.ivfpq.pq.codes.where(cond)
                    ),
                    codes_with_cluster=idx.ivfpq.codes_with_cluster.where(
                        cond
                    ),
                ),
            )
        elif t in ("hnsw", "nsw") and not for_update:
            from homemade_vector_db_spark.operators import nsw as nswmod

            self._ann_index = nswmod.nsw_delete(idx, id_list)
        else:
            self._drop_index()

    def merge(self, other: "VectorDatabase") -> None:
        """Absorb another database into this one — the capability a
        pipeline needs when two corpora were ingested independently
        (per-region crawls, per-tenant shards) and must serve as one.
        The reference has no analogue (one corpus per instance,
        local_db.py:21-54); this is the columnar-native union:

        - id law: every id from `other` shifts by THIS db's id
          high-water mark (new_id = other_id + offset) — O(1) per row,
          no global sort or re-densification, and ids stay unique and
          stable: results keyed on self's existing ids are unaffected.
          The high-water mark advances past the shifted block, so later
          `add` calls never collide.
        - column names are remapped from other's (id/text/vec) onto
          self's; dims must match exactly.
        - derived state: BM25 stats invalidate (rebuilt lazily over the
          union); the ANN tier takes the shifted block through the SAME
          add-after-train maintenance as `add` (frozen-geometry encode
          for IVF/SQ/BQ, incremental graph insert + auto-rebalance for
          the graph tier), so a trained index never silently drops the
          merged rows. The shifted block is materialized once, so
          neither the corpus nor the index reads `other` again.
        `other` is not mutated. Self-merge is rejected (the id remap
        would double-count the high-water mark mid-plan)."""
        if other is self:
            raise ValueError("cannot merge a database into itself")
        if other.dim != self.dim:
            raise ValueError(
                f"dim mismatch: self={self.dim}, other={other.dim}"
            )
        odf = other._require_df()
        offset = self._ensure_next_id()
        meta_col = (
            F.col("meta")
            if "meta" in odf.columns
            else F.create_map().cast("map<string,string>")
        )
        new = materialize(odf.select(
            (F.col(other.id_col).cast("long") + offset).alias(self.id_col),
            F.col(other.text_col).alias(self.text_col),
            F.col(other.vec_col).alias(self.vec_col),
            meta_col.alias("meta"),
        ))
        self._set_corpus(new if self._df is None else self._df.unionByName(new))
        self._n += len(other)
        self._next_id = offset + other._ensure_next_id()
        self._maintain_index_on_append(new)

    def delete(self, ids: Sequence[int]) -> int:
        """Delete documents by id — a capability the reference explicitly
        lacks (its README:140 'no update/delete'); append-only storage
        plus an anti-join tombstone is the standard columnar answer.
        Derived state (BM25 stats, ANN index) is invalidated and rebuilt
        lazily; ids of remaining docs are unchanged (no re-densification
        — result contracts key on stable ids), and the id high-water mark
        is NOT lowered: a later `add` continues from the pre-delete
        counter, so a deleted id is never reassigned to a new document.
        Returns the number of rows removed."""
        df = self._require_df()
        id_list = [int(i) for i in ids]
        self._set_corpus(df.where(~F.col(self.id_col).isin(id_list)))
        n_kept = self._df.count()
        removed = self._n - n_kept
        self._n = n_kept
        # round 11 (VERDICT r10 Next #7): code tiers maintain their
        # index incrementally on delete instead of a full rebuild
        self._maintain_index_on_delete(id_list)
        return removed

    def update(
        self,
        ids: Sequence[int],
        docs: Sequence[str] | None = None,
        vectors: Sequence[Sequence[float]] | None = None,
        metas: Sequence[Mapping[str, Any]] | None = None,
    ) -> int:
        """In-place update by id — like delete, a capability the reference
        explicitly lacks (README.md:140). Ids stay STABLE: the row keeps
        its doc_id (unlike delete+add, which would assign fresh ids).
        Implemented as anti-join tombstone + union of replacement rows;
        None fields keep the current value. Derived state is invalidated.
        Returns the number of rows replaced; unknown ids raise."""
        df = self._require_df()
        id_list = [int(i) for i in ids]
        if len(set(id_list)) != len(id_list):
            raise ValueError("duplicate ids in update")
        current = {
            r[self.id_col]: r
            for r in df.where(F.col(self.id_col).isin(id_list)).collect()
        }
        missing = [i for i in id_list if i not in current]
        if missing:
            raise IndexError(f"doc_ids not found: {missing}")

        def pick(seq, i, fallback):
            return seq[i] if seq is not None else fallback

        rows = []
        for i, doc_id in enumerate(id_list):
            cur = current[doc_id]
            vec = pick(vectors, i, cur[self.vec_col])
            if len(vec) != self.dim:
                raise ValueError(f"vector dim {len(vec)} != {self.dim}")
            meta = (
                {k: str(v) for k, v in metas[i].items()}
                if metas is not None
                else dict(cur["meta"] or {})
            )
            rows.append(
                (doc_id, pick(docs, i, cur[self.text_col]),
                 [float(x) for x in vec], meta)
            )
        schema = T.StructType(
            [
                T.StructField(self.id_col, T.LongType()),
                T.StructField(self.text_col, T.StringType()),
                T.StructField(self.vec_col, T.ArrayType(T.FloatType())),
                T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        replacement = self.spark.createDataFrame(rows, schema)
        kept = df.where(~F.col(self.id_col).isin(id_list))
        self._set_corpus(kept.unionByName(replacement))
        # round 11 (VERDICT r10 Next #7): update = incremental delete of
        # the old codes + add-after-train encode of the replacements —
        # the code tiers never rebuild; the graph tier rebuilds lazily
        # (see _maintain_index_on_delete: a replacement row would
        # collide with its own tombstone)
        self._maintain_index_on_delete(id_list, for_update=True)
        self._maintain_index_on_append(replacement)
        return len(rows)

    def attach(self, df: DataFrame, n: int | None = None) -> "VectorDatabase":
        """Wrap an existing documents DataFrame (bulk path — preferred at
        scale). `df` is materialized once, so reads never re-run its plan;
        without `n`, the row count and the id high-water mark come from
        one aggregate over the materialized corpus."""
        self._drop_index()
        self._set_corpus(df)
        if n is None:
            row = self._df.agg(
                F.count(F.lit(1)).alias("n"), F.max(self.id_col).alias("m")
            ).first()
            self._n = int(row["n"])
            self._next_id = int(row["m"]) + 1 if row["m"] is not None else 0
        else:
            self._n = n
            self._next_id = None  # computed on demand (load sets it)
        return self

    def _ensure_next_id(self) -> int:
        if self._next_id is None:
            if self._df is None or self._n == 0:
                self._next_id = 0
            else:
                row = self._df.agg(F.max(self.id_col).alias("m")).first()
                self._next_id = int(row["m"]) + 1 if row["m"] is not None else 0
        return self._next_id

    # ------------------------------------------------------------------ queries
    def _require_df(self) -> DataFrame:
        if self._df is None or self._n == 0:
            raise RuntimeError("database is empty")
        return self._df

    def _bm25_stats(self) -> bm25.BM25Stats:
        if self._stats is None:
            self._stats = bm25.build_bm25_stats(
                self._require_df(), self.id_col, self.text_col
            ).cache()
        return self._stats

    def query_text(self, query: str, top_k: int = 5, return_scores: bool = False):
        """BM25 top-k (local_db.py:115-135). Raises on empty corpus (parity)."""
        df = self._require_df()  # parity: RuntimeError on empty (local_db.py:127)
        res = bm25.query_text(
            self.spark, df, query, top_k, self.id_col, self.text_col,
            stats=self._bm25_stats(),
        ).collect()
        if return_scores:
            return [(r.doc_id, r.score) for r in res]
        return [r.doc_id for r in res]

    def query_vector(
        self,
        vector: Sequence[float],
        top_k: int = 5,
        pre_filter: Column | Callable[[dict], bool] | None = None,
        post_filter: Column | Callable[[dict], bool] | None = None,
        return_scores: bool = False,
    ):
        """k-NN (local_db.py:137-200). Empty db returns [] (parity :159-160).

        Filters may be Column predicates (fast path, pushdown-eligible) or
        Python callables over the meta dict (reference parity, slow path).
        """
        if self._df is None or self._n == 0:
            return []
        df = self._df
        pre = self._compile_filter(pre_filter)
        post = self._compile_filter(post_filter)
        if self.index_type == "flat" or pre is not None:
            # filters always take the exact path: a true pre-filter must see
            # the un-pruned corpus (SURVEY.md §2.3 D2), which ANN cells/
            # buckets cannot guarantee
            res_df = knn.knn_exact(
                df, list(vector), id_col=self.id_col, vec_col=self.vec_col,
                k=top_k, pre_filter=pre, post_filter=post, dim=self.dim,
            )
        else:
            res_df = self._ann_search(list(vector), top_k)
            if post is not None:
                ids = res_df.select(self.id_col)
                res_df = (
                    df.join(F.broadcast(ids), self.id_col)
                    .where(post)
                    .join(res_df, self.id_col)
                    .select(self.id_col, "score")
                    .orderBy(F.desc("score"), F.asc(self.id_col))
                )
        res = res_df.collect()
        if return_scores:
            return [(r[self.id_col], r.score) for r in res]
        return [r[self.id_col] for r in res]

    def _ann_search(self, vector: list[float], top_k: int):
        from homemade_vector_db_spark.operators import ann

        from homemade_vector_db_spark.operators import nsw as nswmod

        if self._ann_index is None:
            if self.index_type == "lsh":
                self._ann_index = ann.build_lsh(
                    self._df, id_col=self.id_col, vec_col=self.vec_col
                )
            elif self.index_type == "nsw":
                # reference hnsw kwargs map 1:1 (local_db.py:41-47); the
                # graph is materialized, so it outlives the corpus it
                # was built from
                idx = nswmod.build_nsw(
                    self._df, id_col=self.id_col, vec_col=self.vec_col,
                    m=self.M, ef_construction=self.ef_construction,
                    rows_per_shard=self._nsw_rows_per_shard, cache=False,
                )
                idx.graph = materialize(idx.graph)
                self._ann_index = idx
            elif self.index_type == "sq8":
                from homemade_vector_db_spark.operators import sq as sqmod

                self._ann_index = sqmod.build_sq(
                    self._df, id_col=self.id_col, vec_col=self.vec_col,
                    dim=self.dim,
                )
            elif self.index_type == "bq":
                from homemade_vector_db_spark.operators import bq as bqmod

                self._ann_index = bqmod.build_bq(
                    self._df, id_col=self.id_col, vec_col=self.vec_col,
                    dim=self.dim,
                )
            elif self.index_type == "ivfbq":
                from homemade_vector_db_spark.operators import bq as bqmod

                coarse = ann.build_ivf(
                    self._df, id_col=self.id_col, vec_col=self.vec_col,
                    nlist=min(self.ivf_clusters, max(1, self._n // 2)),
                )
                self._ann_index = bqmod.build_ivfbq(coarse, dim=self.dim)
            elif self.index_type == "opq":
                from homemade_vector_db_spark.operators import opq as opqmod

                m = _clamp_m(self.pq_code_size, self.dim)
                self._ann_index = opqmod.build_opq(
                    self._df, id_col=self.id_col, vec_col=self.vec_col,
                    m=m, codebook_size=256, dim=self.dim,
                )
            elif self.index_type == "ivfopq":
                from homemade_vector_db_spark.operators import opq as opqmod

                # the FAISS OPQ{m}+IVF{nlist},PQ{m} recipe: shared
                # m-clamp law, same nlist cap as ivf/ivfpq
                m = _clamp_m(self.pq_code_size, self.dim)
                self._ann_index = opqmod.build_ivfopq(
                    self._df, id_col=self.id_col, vec_col=self.vec_col,
                    nlist=min(self.ivf_clusters, max(1, self._n // 2)),
                    m=m, codebook_size=256, dim=self.dim,
                )
            elif self.index_type == "ivfpq":
                from homemade_vector_db_spark.operators import pq as pqmod

                coarse = ann.build_ivf(
                    self._df, id_col=self.id_col, vec_col=self.vec_col,
                    nlist=min(self.ivf_clusters, max(1, self._n // 2)),
                )
                # m = pq_code_size (the faiss IndexIVFPQ 'm'), shared
                # clamp law
                m = _clamp_m(self.pq_code_size, self.dim)
                self._ann_index = pqmod.build_ivfpq(
                    coarse, m=m, codebook_size=256, dim=self.dim
                )
            else:  # ivf
                self._ann_index = ann.build_ivf(
                    self._df, id_col=self.id_col, vec_col=self.vec_col,
                    nlist=min(self.ivf_clusters, max(1, self._n // 2)),
                )
        if self.index_type == "lsh":
            return ann.lsh_search(self._ann_index, vector, k=top_k)
        if self.index_type == "nsw":
            return nswmod.nsw_search(
                self._ann_index, vector, k=top_k, ef_search=self.ef_search
            )
        if self.index_type == "ivfbq":
            from homemade_vector_db_spark.operators import bq as bqmod

            # ef_search plays the probe-width role, same mapping as ivf
            nlist = len(self._ann_index.centroids)
            nprobe = max(1, min(nlist, self.ef_search // 10))
            return bqmod.ivfbq_search(
                self._ann_index, self._df, vector, k=top_k, nprobe=nprobe,
                pool=max(top_k * 10, 100),
            )
        if self.index_type == "ivfpq":
            from homemade_vector_db_spark.operators import pq as pqmod

            # ef_search → nprobe, same mapping as ivf/ivfbq; ADC
            # shortlist widened to the reference hybrid's pool law
            # (max(top_k·10, 100), local_db.py:362) before exact rerank
            nlist = len(self._ann_index.centroids)
            nprobe = max(1, min(nlist, self.ef_search // 10))
            overfetch = max(10, -(-100 // top_k))
            return pqmod.ivfpq_rerank_search(
                self._ann_index, self._df, vector, k=top_k,
                nprobe=nprobe, overfetch=overfetch,
            )
        if self.index_type == "ivfopq":
            from homemade_vector_db_spark.operators import opq as opqmod

            # ef_search -> nprobe and the widened-pool law, both exactly
            # the ivfpq mapping; rerank is exact in the ORIGINAL frame
            nlist = len(self._ann_index.ivfpq.centroids)
            nprobe = max(1, min(nlist, self.ef_search // 10))
            overfetch = max(10, -(-100 // top_k))
            return opqmod.ivfopq_rerank_search(
                self._ann_index, self._df, vector, k=top_k,
                nprobe=nprobe, overfetch=overfetch,
            )
        if self.index_type == "opq":
            from homemade_vector_db_spark.operators import opq as opqmod

            # rotated-frame ADC shortlist -> exact original-frame rerank;
            # pool mirrors the reference hybrid's widened k
            # (max(top_k*10, 100), local_db.py:362), same as ivfpq
            overfetch = max(10, -(-100 // top_k))
            return opqmod.opq_rerank_search(
                self._ann_index, self._df, vector, k=top_k,
                overfetch=overfetch,
            )
        if self.index_type in ("sq8", "bq"):
            # compressed shortlist -> exact rerank; pool mirrors the
            # reference hybrid's widened k (max(top_k*10, 100),
            # local_db.py:362)
            from homemade_vector_db_spark.operators import bq as bqmod
            from homemade_vector_db_spark.operators import sq as sqmod

            pool = max(top_k * 10, 100)
            search = (
                sqmod.sq_rerank_search
                if self.index_type == "sq8"
                else bqmod.bq_rerank_search
            )
            return search(
                self._ann_index, self._df, vector, k=top_k, pool=pool
            )
        # ef_search plays the probe-width role (recall/cost knob): the
        # reference default ef_search=50 → nprobe 5 ≈ FAISS's nlist//10
        nprobe = max(1, min(self._ann_index.nlist, self.ef_search // 10))
        return ann.ivf_search(self._ann_index, vector, k=top_k, nprobe=nprobe)

    def _compile_filter(self, flt):
        if flt is None or isinstance(flt, Column):
            return flt
        # Python callable over the meta dict → UDF (documented slow path)
        udf = F.udf(lambda m: bool(flt(m or {})), T.BooleanType())
        return udf(F.col("meta"))

    # query_metadata returns a driver-side id LIST for reference parity
    # (local_db.py:313-315 returns all ids too). That is fine at the
    # reference's scale and lethal at 100 TB, so an un-limited collect is
    # capped: above the cap the call raises and points at the
    # `as_dataframe=True` escape hatch, which returns the (distributed)
    # id DataFrame instead of collecting anything.
    UNBOUNDED_COLLECT_CAP = 10_000_000

    def query_metadata(
        self,
        filter_func: Callable[[dict], bool] | None = None,
        conditions: Mapping[str, Any] | None = None,
        top_k: int | None = None,
        as_dataframe: bool = False,
    ) -> list[int] | DataFrame:
        """local_db.py:276-321 incl. conditions-shadows-filter_func and
        positional top_k. Empty db → []. With ``as_dataframe=True``
        returns the sorted id DataFrame without collecting (the
        billion-row-safe form; it reads the current corpus, so consume
        it before the next mutation); the default list form refuses to
        collect more than UNBOUNDED_COLLECT_CAP ids."""
        if self._df is None or self._n == 0:
            return self.spark.createDataFrame(
                [], f"{self.id_col} long"
            ) if as_dataframe else []
        df = self._df
        if conditions:
            # conditions over the meta map (stringified values, parity with
            # meta.get(k)==v); promoted columns used when present
            pred = F.lit(True)
            for k, v in conditions.items():
                if k in df.columns:
                    pred = pred & (F.col(k) == F.lit(v))
                else:
                    pred = pred & (F.col("meta").getItem(k) == F.lit(str(v)))
            out = (
                df.where(pred)
                .select(self.id_col)
                .orderBy(F.asc(self.id_col))
            )
            if top_k is not None and 0 < top_k:
                out = out.limit(top_k)
        elif filter_func is not None:
            pred = self._compile_filter(filter_func)
            out = df.where(pred).select(self.id_col).orderBy(F.asc(self.id_col))
            if top_k is not None and 0 < top_k:
                out = out.limit(top_k)
        else:
            out = df.select(self.id_col).orderBy(F.asc(self.id_col))
            if top_k is not None and 0 < top_k:
                out = out.limit(top_k)
        if as_dataframe:
            return out
        if (top_k is None or top_k <= 0) and self._n > self.UNBOUNDED_COLLECT_CAP:
            raise ValueError(
                f"query_metadata would collect up to {self._n} ids to the "
                f"driver (cap {self.UNBOUNDED_COLLECT_CAP}); pass top_k or "
                "as_dataframe=True for the distributed form"
            )
        return [r[self.id_col] for r in out.collect()]

    def hybrid_search(
        self,
        query_text: str,
        query_vector: Sequence[float],
        top_k: int = 5,
        vector_weight: float = 0.5,
        filter_func: Column | Callable[[dict], bool] | None = None,
        return_scores: bool = False,
    ):
        """local_db.py:323-401 (squared-L2 everywhere per SURVEY §2.3-1)."""
        if self._df is None or self._n == 0:
            return []
        res = hybrid.hybrid_search(
            self.spark,
            self._df,
            query_text,
            list(query_vector),
            top_k=top_k,
            vector_weight=vector_weight,
            filter_pred=self._compile_filter(filter_func),
            id_col=self.id_col,
            text_col=self.text_col,
            vec_col=self.vec_col,
            stats=self._bm25_stats(),
        ).collect()
        if return_scores:
            return [(r.doc_id, r.score) for r in res]
        return [r.doc_id for r in res]

    # ------------------------------------------------------------------ lookup
    def get_document(self, idx: int) -> str:
        row = self._require_df().where(F.col(self.id_col) == idx).first()
        if row is None:
            raise IndexError(f"doc_id {idx} not found")
        return row[self.text_col]

    def get_metadata(self, idx: int) -> dict:
        row = self._require_df().where(F.col(self.id_col) == idx).first()
        if row is None:
            raise IndexError(f"doc_id {idx} not found")
        return dict(row["meta"] or {})

    # ------------------------------------------------------------------ persist
    def save(self, folder_path: str, include_index: bool = True) -> None:
        """Parquet + JSON manifest (vs pickle sniffing, local_db.py:210-222).

        include_index=True also persists the derived BM25 relations
        (postings / term_stats / corpus_stats) so `load` skips the
        re-tokenize the reference performs on every load
        (local_db.py:257). Index-type discovery comes from the manifest,
        not file sniffing (cleaner than local_db.py:233-248).
        """
        df = self._require_df()
        df.write.mode("overwrite").parquet(os.path.join(folder_path, "documents"))
        has_stats = False
        if include_index and self._stats is not None:
            s = self._stats
            s.postings.write.mode("overwrite").parquet(
                os.path.join(folder_path, "bm25", "postings")
            )
            s.term_stats.write.mode("overwrite").parquet(
                os.path.join(folder_path, "bm25", "term_stats")
            )
            s.corpus_stats.write.mode("overwrite").parquet(
                os.path.join(folder_path, "bm25", "corpus_stats")
            )
            has_stats = True
        has_ann = False
        if include_index and self._ann_index is not None:
            # O8 parity for the native index files (hnsw.idx / faiss.idx,
            # local_db.py:218-221) — but cluster-partitioned parquet /
            # MLWriter instead of opaque native blobs.
            from homemade_vector_db_spark.operators import ann

            ann_path = os.path.join(folder_path, "ann")
            if self.index_type == "lsh":
                ann.save_lsh(self._ann_index, ann_path)
            elif self.index_type == "ivf":
                ann.save_ivf(self._ann_index, ann_path)
            elif self.index_type == "nsw":
                from homemade_vector_db_spark.operators import nsw as nswmod

                nswmod.save_nsw(self._ann_index, ann_path)
            elif self.index_type == "sq8":
                from homemade_vector_db_spark.operators import sq as sqmod

                sqmod.save_sq(self._ann_index, ann_path)
            elif self.index_type == "bq":
                from homemade_vector_db_spark.operators import bq as bqmod

                bqmod.save_bq(self._ann_index, ann_path)
            elif self.index_type == "ivfbq":
                from homemade_vector_db_spark.operators import bq as bqmod

                bqmod.save_ivfbq(self._ann_index, ann_path)
            elif self.index_type == "ivfpq":
                from homemade_vector_db_spark.operators import pq as pqmod

                pqmod.save_ivfpq(self._ann_index, ann_path)
            elif self.index_type == "opq":
                from homemade_vector_db_spark.operators import opq as opqmod

                opqmod.save_opq(self._ann_index, ann_path)
            elif self.index_type == "ivfopq":
                from homemade_vector_db_spark.operators import opq as opqmod

                opqmod.save_ivfopq(self._ann_index, ann_path)
            has_ann = self.index_type in (
                "lsh", "ivf", "ivfpq", "nsw", "sq8", "bq", "ivfbq", "opq",
                "ivfopq",
            )
        manifest = {
            "dim": self.dim,
            "index_type": self.index_type,
            "n": self._n,
            "id_col": self.id_col,
            "text_col": self.text_col,
            "vec_col": self.vec_col,
            "has_bm25_stats": has_stats,
            "has_ann_index": has_ann,
            "next_id": self._ensure_next_id(),
            "format_version": 2,
        }
        with open(os.path.join(folder_path, "manifest.json"), "w") as f:
            json.dump(manifest, f)

    @classmethod
    def load(cls, spark: SparkSession, folder_path: str) -> "VectorDatabase":
        with open(os.path.join(folder_path, "manifest.json")) as f:
            m = json.load(f)
        db = cls(
            spark, m["dim"], m["index_type"],
            id_col=m["id_col"], text_col=m["text_col"], vec_col=m["vec_col"],
        )
        df = spark.read.parquet(os.path.join(folder_path, "documents"))
        db.attach(df, m["n"])
        if m.get("next_id") is not None:
            db._next_id = int(m["next_id"])
        if m.get("has_bm25_stats"):
            p = os.path.join(folder_path, "bm25")
            db._stats = bm25.BM25Stats(
                postings=spark.read.parquet(os.path.join(p, "postings")),
                doc_len=spark.read.parquet(os.path.join(p, "postings")).select(
                    "doc_id", "dl"
                ).distinct(),
                term_stats=spark.read.parquet(os.path.join(p, "term_stats")),
                corpus_stats=spark.read.parquet(os.path.join(p, "corpus_stats")),
            )
        if m.get("has_ann_index"):
            from homemade_vector_db_spark.operators import ann

            ann_path = os.path.join(folder_path, "ann")
            if m["index_type"] == "lsh":
                db._ann_index = ann.load_lsh(spark, ann_path, df)
            elif m["index_type"] == "ivf":
                db._ann_index = ann.load_ivf(spark, ann_path)
            elif m["index_type"] == "nsw":
                from homemade_vector_db_spark.operators import nsw as nswmod

                db._ann_index = nswmod.load_nsw(spark, ann_path)
            elif m["index_type"] == "sq8":
                from homemade_vector_db_spark.operators import sq as sqmod

                db._ann_index = sqmod.load_sq(spark, ann_path)
            elif m["index_type"] == "bq":
                from homemade_vector_db_spark.operators import bq as bqmod

                db._ann_index = bqmod.load_bq(spark, ann_path)
            elif m["index_type"] == "ivfbq":
                from homemade_vector_db_spark.operators import bq as bqmod

                db._ann_index = bqmod.load_ivfbq(spark, ann_path)
            elif m["index_type"] == "opq":
                from homemade_vector_db_spark.operators import opq as opqmod

                db._ann_index = opqmod.load_opq(spark, ann_path)
            elif m["index_type"] == "ivfopq":
                from homemade_vector_db_spark.operators import opq as opqmod

                db._ann_index = opqmod.load_ivfopq(spark, ann_path)
            elif m["index_type"] == "ivfpq":
                from homemade_vector_db_spark.operators import pq as pqmod

                db._ann_index = pqmod.load_ivfpq(spark, ann_path)
        return db

    @classmethod
    def import_reference(
        cls,
        spark: SparkSession,
        folder_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        vec_col: str = "embedding",
    ) -> "VectorDatabase":
        """Import a folder saved by the REFERENCE engine's save():
        `data.pkl` (docs+metas pickle) + `vectors.npy` + a native index
        file (local_db.py:210-222) — the first thing a migrating user
        does with an existing database.

        Type detection mirrors the reference's load() sniffing
        (local_db.py:233-248): `hnsw.idx` present → the graph tier;
        `faiss.idx` sniffed for the IVFPQ signature — the reference needs
        `faiss.read_index` + `isinstance` for this, but the same
        information is in the file's leading fourcc (FAISS index_write
        serialization: IndexIVFPQ writes "IwPQ", IndexFlat writes
        "IxF2"/"IxFI"/"IxFl"), readable without the library; anything
        unrecognized → 'flat', the reference's own default. Index
        CONTENTS are native hnswlib/FAISS serializations only those
        libraries can deserialize — derived state is rebuilt here,
        exactly as the reference's load() already rebuilds BM25 from
        scratch (local_db.py:257).

        Security: `data.pkl` is loaded through a RESTRICTED unpickler.
        Plain builtins (dict/list/tuple/set/str/bytes/int/float/bool/
        None) need no globals and always pass; beyond those, only a
        fixed allowlist of inert data constructors is admitted —
        datetime date/datetime/time/timedelta/timezone and the numpy
        scalar/array reconstructors (dtype, scalar, _reconstruct,
        ndarray) — because real reference exports carry metadata values
        like `{'added': datetime.now(), 'score': np.float32(...)}`
        (ADVICE r4: the builtins-only round-3 gate rejected legitimate
        folders). These constructors build values, never run user code;
        any OTHER global (the arbitrary-code-execution vector, e.g.
        os.system or object.__reduce__ payloads) raises UnpicklingError
        instead of executing. Still stricter than the reference's own
        load(), which trusts the folder outright (ADVICE r3).
        """
        import pickle

        import numpy as np

        _SAFE_GLOBALS = {
            ("datetime", "date"),
            ("datetime", "datetime"),
            ("datetime", "time"),
            ("datetime", "timedelta"),
            ("datetime", "timezone"),
            ("numpy", "dtype"),
            ("numpy", "ndarray"),
            # numpy moved multiarray into _core in 2.x; exports written
            # by either lineage must load under both spellings
            ("numpy.core.multiarray", "scalar"),
            ("numpy._core.multiarray", "scalar"),
            ("numpy.core.multiarray", "_reconstruct"),
            ("numpy._core.multiarray", "_reconstruct"),
        }

        class _RestrictedUnpickler(pickle.Unpickler):
            def find_class(self, module, name):
                if (module, name) in _SAFE_GLOBALS:
                    import importlib

                    return getattr(importlib.import_module(module), name)
                raise pickle.UnpicklingError(
                    f"refusing to unpickle global {module}.{name}: the "
                    "reference data.pkl layout contains only plain "
                    "builtins plus datetime/numpy scalar values; this "
                    "folder is not a trustworthy reference export"
                )

        with open(os.path.join(folder_path, "data.pkl"), "rb") as f:
            data = _RestrictedUnpickler(f).load()
        docs = list(data["docs"])
        metas = list(data["metas"])
        vectors = np.asarray(np.load(os.path.join(folder_path, "vectors.npy")))
        if vectors.ndim != 2:
            raise ValueError(f"vectors.npy must be 2-D, got {vectors.shape}")
        if len(docs) != vectors.shape[0] or len(metas) != len(docs):
            raise ValueError(
                f"inconsistent reference folder: {len(docs)} docs, "
                f"{len(metas)} metas, {vectors.shape[0]} vectors"
            )
        index_type = "flat"
        if os.path.exists(os.path.join(folder_path, "hnsw.idx")):
            index_type = "hnsw"
        elif os.path.exists(os.path.join(folder_path, "faiss.idx")):
            with open(os.path.join(folder_path, "faiss.idx"), "rb") as f:
                fourcc = f.read(4)
            index_type = "ivfpq" if fourcc == b"IwPQ" else "flat"
        db = cls(
            spark,
            dim=int(vectors.shape[1]),
            index_type=index_type,
            id_col=id_col,
            text_col=text_col,
            vec_col=vec_col,
        )
        db.add(docs, vectors.tolist(), metas)
        return db

    # ------------------------------------------------------------------ misc
    def __len__(self) -> int:
        return self._n

    def __repr__(self) -> str:
        return (
            f"VectorDatabase(n={self._n}, dim={self.dim}, "
            f"index_type={self.index_type!r}, engine=pyspark)"
        )
