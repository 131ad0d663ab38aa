"""Distributed Lloyd k-means over the embeddings table: the IVF coarse
quantizer behind the trained IVF consumers and the per-subspace PQ
codebooks behind ``llm_pq_train`` (SURVEY.md §2.11).

One loop, :func:`lloyd_fit`, trains both.  It cuts every vector into
``n_sub`` contiguous subvectors (IVF: 1, PQ: ``pq.N_SUB``) and runs
k-means in every subspace at once.  Spark shape (the MLlib/treeAggregate
pattern, spelled with the public DataFrame API):

* each iteration is ONE ``mapInPandas`` pass: per Arrow batch and
  subspace, a BLAS matmul scores every subvector against the broadcast
  centroids, argmin assigns, and the batch emits per-(sub, cluster, dim)
  PARTIAL sums plus one inertia partial per subspace — bounded metadata
  per batch, the map-side combine that keeps shuffle volume independent
  of corpus size;
* the driver folds the partials into new centroids.  Partials are summed
  in sorted (sub, cid, dim, part) order so float accumulation order — and
  therefore the trained index — is bit-deterministic run to run.

Iterative refinement is not SQL-expressible, so the training keys emit
invariant summaries; pytest pins run-to-run determinism and the monotone
inertia decrease that defines Lloyd's algorithm.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreaming_spark.io import load_table, table_rows
from kafkastreaming_spark.operators.pq import N_CENT, N_SUB
from kafkastreaming_spark.registry import query

_K = 16
_ITERS = 5


def ivf_k(n: int) -> int:
    """Production coarse-quantizer size: K ~ √n keeps expected bucket
    size √n, so the within-bucket exact work of the IVF consumers
    (``llm_semdedup_trained``'s O(n²/K) pair scan, the probe rescans)
    grows as n^1.5/K = n, i.e. LINEAR in the corpus — the standard
    billion-scale sizing rule.  Clamped to [4, 256]: the floor keeps
    tiny fixtures meaningful, the cap bounds the broadcast centroid
    matrix (256×64 float64 = 128 KB) and the ×K assignment fan-out at
    test scale; production would raise the cap with the cluster."""
    return max(4, min(256, int(round(n**0.5))))


def trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized PRODUCTION quantizer: K = ivf_k(n) Lloyd centroids
    over the embeddings table, 6dp-rounded, as a cached (cid, cv)
    DataFrame.  Train once per (session, sf_dir); every trained IVF
    consumer (``llm_ann_ivf_trained``, ``llm_semdedup_trained``) shares
    this one index — the build/query split of a production vector
    lake."""
    from kafkastreaming_spark.memo import memo

    def build() -> DataFrame:
        k = ivf_k(table_rows(spark, sf_dir, "embeddings"))
        _, cent, _, _ = _fit(spark, sf_dir, k, 1)
        rounded = np.round(cent[0], 6)
        df = spark.createDataFrame(
            [(int(i), [float(v) for v in rounded[i]]) for i in range(len(rounded))],
            "cid int, cv array<double>",
        ).cache()
        df.count()
        return df

    return memo(spark, sf_dir, "ivf_trained_centroids_sqrtn", build)


def count_and_init(emb: DataFrame, k: int) -> tuple[int, np.ndarray]:
    """Corpus count AND the first-k init vectors in ONE job.
    collect_list skips the when()'s nulls and sort_array orders the
    surviving structs by vec_id (unique), so the init matrix is the
    first k vectors by vec_id."""
    row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("vec_id") < k, F.struct("vec_id", "embedding")
                )
            )
        ).alias("init"),
    ).first()
    cent = np.array(
        [s["embedding"] for s in row["init"]], dtype=np.float64
    )
    return int(row["n"]), cent


def lloyd_fit(
    spark: SparkSession,
    emb: DataFrame,
    init: np.ndarray,
    n_sub: int = 1,
    iters: int = _ITERS,
) -> tuple[np.ndarray, np.ndarray, list[float]]:
    """Lloyd's algorithm in ``n_sub`` subspaces at once, from the k×d
    ``init`` matrix (:func:`count_and_init`).  Returns (centroids
    n_sub×k×(d/n_sub), member counts n_sub×k, per-iteration inertia
    summed over the subspaces).  Deterministic: argmin ties → lowest
    cid, partial sums folded in sorted (sub, cid, dim, part) order."""
    k, d = init.shape
    w = d // n_sub
    cent = np.stack([init[:, s * w : (s + 1) * w] for s in range(n_sub)])
    counts = np.zeros((n_sub, k), dtype=np.int64)
    inertia: list[float] = []

    schema = "sub int, cid int, dim int, s double, cnt long, part long"

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches, _b=bc):
            from pyspark import TaskContext

            c = _b.value  # (n_sub, k, w)
            pi = TaskContext.get().partitionId()
            for pdf in batches:
                a = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                rows = []
                for s, cs in enumerate(c):
                    asub = a[:, s * w : (s + 1) * w]
                    # ||a-c||² = ||a||² - 2a·c + ||c||²; ||a||² constant per row
                    d2 = (cs * cs).sum(axis=1)[None, :] - 2.0 * (asub @ cs.T)
                    cid = d2.argmin(axis=1)  # first min = lowest cid on ties
                    # one partial per (sub, cid, dim), each summed on its
                    # own column: sel.sum(axis=0) may round differently
                    for ci in np.unique(cid):
                        sel = asub[cid == ci]
                        for di in range(w):
                            rows.append(
                                (s, int(ci), di, float(sel[:, di].sum()), len(sel), pi)
                            )
                    err = (
                        d2[np.arange(len(cid)), cid] + (asub * asub).sum(axis=1)
                    ).sum()
                    rows.append((s, -1, 0, float(err), len(a), pi))  # inertia partial
                yield pd.DataFrame(
                    rows, columns=["sub", "cid", "dim", "s", "cnt", "part"]
                )

        got = emb.select("embedding").mapInPandas(partials, schema).collect()
        # fixed fold order ⇒ deterministic float accumulation
        got.sort(key=lambda r: (r["sub"], r["cid"], r["dim"], r["part"]))
        sums = np.zeros((n_sub, k, w))
        counts = np.zeros((n_sub, k), dtype=np.int64)
        err_total = 0.0
        for r in got:
            if r["cid"] < 0:
                err_total += r["s"]
            else:
                sums[r["sub"], r["cid"], r["dim"]] += r["s"]
                if r["dim"] == 0:
                    counts[r["sub"], r["cid"]] += r["cnt"]
        inertia.append(err_total)
        nonempty = counts > 0
        cent = np.where(
            nonempty[:, :, None], sums / np.maximum(counts, 1)[:, :, None], cent
        )
        bc.destroy()
    return cent, counts, inertia


def _fit(
    spark: SparkSession, sf_dir: str, k: int, n_sub: int
) -> tuple[int, np.ndarray, np.ndarray, list[float]]:
    """The corpus count, then :func:`lloyd_fit`'s result over the
    embeddings table from its first k vectors."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n, init = count_and_init(emb, k)
    return (n, *lloyd_fit(spark, emb, init, n_sub))


def _codebook_rows(cent: np.ndarray, counts: np.ndarray) -> list[tuple]:
    """(sub, cid, n_members, c_norm, centroid_csv) per trained centroid."""
    return [
        (
            s,
            ci,
            int(counts[s, ci]),
            float(np.round(np.sqrt((c * c).sum()), 6)),
            ",".join(f"{v:.6f}" for v in c),
        )
        for s, sub in enumerate(cent)
        for ci, c in enumerate(sub)
    ]


def ivf_train_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-index ARTIFACT frame (cid, n_members, c_norm,
    centroid_csv) — kept for tests and downstream consumers; the
    registered ``llm_ivf_train`` query emits the invariant summary
    instead (engine-checkable facts, not training artifacts)."""
    _, cent, counts, _ = _fit(spark, sf_dir, _K, 1)
    return spark.createDataFrame(
        [r[1:] for r in _codebook_rows(cent, counts)],
        "cid int, n_members long, c_norm double, centroid_csv string",
    )


@query(
    "llm_ivf_train",
    oracle=f"""
    SELECT CAST({_K} AS INTEGER) AS k_clusters,
           CAST({_ITERS} AS INTEGER) AS n_iters,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS total_members_match,
           TRUE AS inertia_monotone,
           TRUE AS inertia_improved,
           TRUE AS centroids_finite
    FROM embeddings
    """,
)
def llm_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: K=16 Lloyd iterations over
    ``embeddings``.

    Invariant-oracle spelling: the trained centroids are iterative
    artifacts no SQL engine can re-derive, so the query emits the
    deterministic facts a DuckDB oracle CAN check — corpus size, the
    fixed (K, iters) configuration, and the Lloyd invariants as
    booleans: every vector assigned exactly once (member counts sum to
    n), inertia non-increasing per iteration and strictly improved over
    the first-16 init, all centroid components finite.  Training is
    bit-deterministic (fixed init, sorted partial folds), so every
    boolean is stable run to run; pytest additionally pins the artifact
    itself (``ivf_train_artifact``) for determinism and convergence."""
    # the count from the init job stays an independent scan-side fact
    # the member-count invariant is checked against
    n_vectors, cent, counts, inertia = _fit(spark, sf_dir, _K, 1)
    row = (
        int(cent.shape[1]),
        len(inertia),
        n_vectors,
        bool(int(counts.sum()) == n_vectors),
        bool(all(b <= a * (1 + 1e-12) + 1e-9 for a, b in zip(inertia, inertia[1:]))),
        bool(inertia[-1] < inertia[0]),
        bool(np.isfinite(cent).all()),
    )
    return spark.createDataFrame(
        [row],
        "k_clusters int, n_iters int, n_vectors long, total_members_match boolean,"
        " inertia_monotone boolean, inertia_improved boolean,"
        " centroids_finite boolean",
    )


def pq_train_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained PQ codebook ARTIFACT frame (sub, cid, n_members,
    c_norm, centroid_csv), memoized per (session, sf_dir) — kept for
    tests and downstream consumers; the registered ``llm_pq_train``
    query emits the per-subspace invariant summary instead."""
    from kafkastreaming_spark.memo import memo

    def build() -> DataFrame:
        _, cent, counts, _ = _fit(spark, sf_dir, N_CENT, N_SUB)
        df = spark.createDataFrame(
            _codebook_rows(cent, counts),
            "sub int, cid int, n_members long, c_norm double, centroid_csv string",
        ).cache()
        df.count()
        return df

    return memo(spark, sf_dir, "pq_train", build)


@query(
    "llm_pq_train",
    oracle=f"""
    SELECT CAST(t.range AS INTEGER) AS sub,
           CAST({N_CENT} AS INTEGER) AS k_codewords,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           TRUE AS total_members_match,
           TRUE AS codebook_finite
    FROM range({N_SUB}) t
    """,
)
def llm_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train per-subspace PQ codebooks: ``N_SUB`` subspaces × ``N_CENT``
    codewords, Lloyd over the embeddings' subvectors — the production
    replacement for ``llm_pq_encode``'s deterministic-literal codebook,
    completing the IVF-PQ build story next to ``llm_ivf_train``.

    Invariant-oracle spelling: one row per subspace with the facts
    DuckDB can check — the fixed codebook shape, corpus size, and the
    per-subspace assignment invariant (every vector coded exactly once
    per subspace, so member counts sum to n) plus codeword finiteness.
    Training is bit-deterministic (fixed init, sorted partial folds);
    the artifact itself (``pq_train_artifact``) stays memoized and
    pinned by the ADC recall test in tests/test_pipeline.py."""
    n_vectors = table_rows(spark, sf_dir, "embeddings")
    art = pq_train_artifact(spark, sf_dir).collect()
    per_sub: dict[int, list] = {}
    for r in art:
        per_sub.setdefault(r["sub"], []).append(r)
    rows = []
    for s in sorted(per_sub):
        members = sum(r["n_members"] for r in per_sub[s])
        finite = all(
            np.isfinite([float(x) for x in r["centroid_csv"].split(",")]).all()
            for r in per_sub[s]
        )
        rows.append(
            (s, len(per_sub[s]), n_vectors, members == n_vectors, bool(finite))
        )
    return spark.createDataFrame(
        rows,
        "sub int, k_codewords int, n_vectors long, total_members_match boolean,"
        " codebook_finite boolean",
    )
