"""The three workloads: inputs, one pass of operations, and the checks
each operation's result must pass.

A workload builds its inputs from the seed (``generate``), writes them
as parquet (``write``), opens them through the program (``load``) and
then runs passes. Each operation is one call into a public function of
the program plus whatever fetches its result; the check runs after
the timed part, on the fetched result, against the generator's truth.
"""

from __future__ import annotations

import decimal
import os
import re
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

import gen


class CheckFailed(Exception):
    pass


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class OpRecord:
    name: str
    kind: str  # "op", "read" or "write"
    seconds: float
    ok: bool
    error: str | None = None


class Runner:
    """Times one operation, records it, then checks its result."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.ops: list[OpRecord] = []
        self.quality: dict[str, list[float]] = {}

    def note(self, key: str, value: float) -> None:
        self.quality.setdefault(key, []).append(float(value))

    def op(
        self,
        name: str,
        call: Callable[[], object],
        check: Callable[[object], None] | None = None,
        kind: str = "op",
    ):
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                result = call()
        except Exception as e:  # a failing call is a failed operation
            self.ops.append(OpRecord(name, kind, time.perf_counter() - t0,
                                     False, _short(e)))
            return None
        rec = OpRecord(name, kind, time.perf_counter() - t0, True)
        if check is not None:
            try:
                check(result)
            except CheckFailed as e:
                rec.ok, rec.error = False, f"check: {e}"
        self.ops.append(rec)
        return result


def _short(e: Exception) -> str:
    msg = str(e).strip().splitlines()
    # Spark's error class (e.g. FAILED_READ_FILE.FILE_NOT_EXIST) sits on
    # a "Caused by" line deep in the Java trace
    tagged = [ln.strip() for ln in msg if re.search(r"\[[A-Z_]+(\.[A-Z_]+)*\]", ln)]
    head = (tagged or msg or [""])[0]
    return f"{type(e).__name__}: {head[:200]}"


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ---------------------------------------------------------------------
class MlFit:
    """dislib's own use: scaler, PCA, KMeans fit + predict, diagonal
    GMM, OLS and the Gramian over one blocked float64 matrix."""

    N, D, K = 4_000, 32, 8
    GMM_ITERS = 2
    KMEANS_ITERS = 3

    def __init__(self, seed: int):
        self.seed = seed
        self.input_rows = self.N

    def generate(self) -> None:
        b = gen.make_blobs(self.seed, self.N, self.D, self.K)
        x = b.x
        z = np.hstack([x, np.ones((self.N, 1))])
        w = np.linalg.lstsq(z, b.y, rcond=None)[0]
        self.truth = dict(
            blobs=b,
            mean=x.mean(axis=0),
            std=x.std(axis=0),
            eig=np.sort(np.linalg.eigvalsh(np.cov(x, rowvar=False, ddof=0)))[::-1],
            coef=w[:-1],
            intercept=w[-1],
            gram=x.T @ x,
        )

    def write(self, root: str) -> None:
        b = self.truth["blobs"]
        gen.write_table(gen.features_table(b.x), root, "blobs")
        gen.write_table(gen.features_table(b.y[:, None]), root, "target")

    def load(self, spark, root: str, tracer) -> None:
        from dislib_spark.array import DsArray
        from dislib_spark.tables import load_table

        with tracer.span("tables.load_table"):
            xdf = load_table(spark, root, "blobs")
        with tracer.span("tables.load_table"):
            ydf = load_table(spark, root, "target")
        self.x = DsArray(xdf, (self.N, self.D))
        self.y = DsArray(ydf, (self.N, 1))

    def run_pass(self, r: Runner) -> None:
        from pyspark.sql import functions as F

        from dislib_spark.array import matmul
        from dislib_spark.cluster.gmm import GaussianMixture
        from dislib_spark.cluster.kmeans import KMeans
        from dislib_spark.decomposition.pca import PCA
        from dislib_spark.preprocessing.scalers import StandardScaler
        from dislib_spark.regression.linear import LinearRegression

        t, x, y, seed = self.truth, self.x, self.y, self.seed
        rel = dict(rtol=1e-7, atol=1e-7)

        def scale():
            sc = StandardScaler()
            out = sc.fit_transform(x)
            total = out.df.select(
                F.aggregate("features", F.lit(0.0), lambda a, v: a + v).alias("s")
            ).agg(F.sum("s")).collect()[0][0]
            return sc, total

        def check_scale(res):
            sc, total = res
            require(np.allclose(sc.mean_, t["mean"], **rel), "scaler mean")
            require(np.allclose(sc.scale_, t["std"], **rel), "scaler std")
            require(abs(total) < 1e-6 * self.N * self.D, "scaled sum not ~0")

        r.op("preprocessing.StandardScaler.fit_transform", scale, check_scale)
        r.op(
            "decomposition.PCA.fit",
            lambda: PCA().fit(x),
            lambda p: require(
                np.allclose(p.explained_variance_, t["eig"], rtol=1e-6, atol=1e-6),
                "PCA eigenvalues",
            ),
        )
        km = r.op(
            "cluster.KMeans.fit",
            lambda: KMeans(
                n_clusters=self.K, init="k-means||", max_iter=self.KMEANS_ITERS,
                tol=0.0, random_state=seed,
            ).fit(x),
            lambda m: require(
                _near_local_optimum(t["blobs"].x, m.centers),
                "KMeans stopped far from a local optimum",
            ),
        )
        def predict():
            if km is None:  # attempted and failed, so a crash never shortens a pass
                raise RuntimeError("no model: cluster.KMeans.fit failed")
            return km.predict(x).df.select(
                "row_id", F.element_at("features", 1).alias("c")
            ).toPandas()

        def check_predict(pdf):
            pred = np.empty(self.N, dtype=np.int64)
            pred[pdf["row_id"].to_numpy()] = pdf["c"].to_numpy().astype(np.int64)
            near = _nearest(t["blobs"].x, km.centers)
            require(np.mean(pred == near) >= 0.999,
                    "KMeans.predict disagrees with nearest centre")
            r.note("cluster.KMeans.purity", _purity(pred, t["blobs"].labels))

        r.op("cluster.KMeans.predict", predict, check_predict)
        r.op(
            "cluster.GaussianMixture.fit",
            lambda: GaussianMixture(
                n_components=self.K, covariance_type="diag",
                max_iter=self.GMM_ITERS, tol=0.0, random_state=seed,
            ).fit(x),
            lambda g: require(
                abs(float(np.sum(g.weights_)) - 1.0) < 1e-6
                and np.all(g.weights_ > 0)
                and np.all(np.isfinite(g.means_))
                and np.all(np.asarray(g.covariances_) > 0),
                "GMM weights/means/variances invalid",
            ),
        )
        r.op(
            "regression.LinearRegression.fit",
            lambda: LinearRegression().fit(x, y),
            lambda m: require(
                np.allclose(m.coef_, t["coef"], rtol=1e-6, atol=1e-6)
                and abs(m.intercept_ - t["intercept"]) < 1e-6
                and np.allclose(m.coef_, t["blobs"].coef, atol=0.01),
                "OLS coefficients",
            ),
        )
        r.op(
            "array.matmul",
            lambda: matmul(x, x, transpose_a=True).collect(),
            lambda g: require(
                np.allclose(g, t["gram"], rtol=1e-9, atol=1e-6), "AᵀA"
            ),
        )


def _nearest(x: np.ndarray, centers: np.ndarray) -> np.ndarray:
    d = ((x[:, None, :] - np.asarray(centers)[None, :, :]) ** 2).sum(axis=2)
    return d.argmin(axis=1)


def _inertia(x: np.ndarray, centers: np.ndarray) -> float:
    d = ((x[:, None, :] - np.asarray(centers)[None, :, :]) ** 2).sum(axis=2)
    return float(d.min(axis=1).sum())


def _near_local_optimum(x: np.ndarray, centers: np.ndarray) -> bool:
    """Lloyd iterations run to convergence from the fitted centres lower
    the inertia by less than 1 %: the fit stopped at (or next to) a
    local optimum. Which optimum k-means|| reached is not judged here;
    purity is reported instead."""
    c = np.asarray(centers, dtype=np.float64)
    for _ in range(100):
        near = _nearest(x, c)
        new = np.array([x[near == k].mean(axis=0) if np.any(near == k) else c[k]
                        for k in range(len(c))])
        if np.allclose(new, c):
            break
        c = new
    return _inertia(x, centers) <= 1.01 * _inertia(x, c)


def _purity(pred: np.ndarray, labels: np.ndarray) -> float:
    """Share of rows whose cluster's majority generating blob is theirs."""
    hit = 0
    for c in np.unique(pred):
        hit += np.bincount(labels[pred == c]).max()
    return hit / len(labels)


# ---------------------------------------------------------------------
class DedupSearch:
    """The curation path: exact, MinHash and SimHash dedup over a token
    corpus, semantic dedup and two ANN searches over embeddings."""

    DOCS, DOC_LEN, VOCAB = 2_000, 60, 30_000
    VECS, DIM, QUERIES = 2_000, 64, 50
    JACCARD = 0.5
    SEM_THRESHOLD = 0.95

    def __init__(self, seed: int):
        self.seed = seed
        self.input_rows = self.DOCS + self.VECS

    def generate(self) -> None:
        self.truth = gen.make_corpus(
            self.seed, self.DOCS, self.DOC_LEN, self.VOCAB, self.VECS, self.DIM,
            self.QUERIES, self.JACCARD,
        )
        c = self.truth
        self.texts = dict(zip(c.docs.doc_id.tolist(), c.docs.text.tolist()))
        self.all_dups = c.exact_pairs | c.near_pairs

    def write(self, root: str) -> None:
        c = self.truth
        gen.write_table(pa.Table.from_pandas(c.docs, preserve_index=False), root, "corpus")
        gen.write_table(gen.embeddings_table(c.vectors), root, "vectors")
        gen.write_table(gen.embeddings_table(c.queries), root, "queries", parts=1)

    def load(self, spark, root: str, tracer) -> None:
        from dislib_spark.tables import load_table

        with tracer.span("tables.load_table"):
            self.docs = load_table(spark, root, "corpus")
        with tracer.span("tables.load_table"):
            self.vecs = load_table(spark, root, "vectors")
        with tracer.span("tables.load_table"):
            self.queries = load_table(spark, root, "queries")

    def run_pass(self, r: Runner) -> None:
        from dislib_spark.text import exact_dedup, minhash_lsh_pairs, simhash_pairs
        from dislib_spark.vector import ivf_topk, lsh_topk
        from dislib_spark.vector.semantic import semantic_dedup_pairs

        c = self.truth

        def check_exact(rows):
            got = {int(x.keep_id): int(x.n_copies) for x in rows}
            require(got == c.exact_groups, "exact_dedup groups differ from planted")

        r.op(
            "text.exact_dedup",
            lambda: exact_dedup(self.docs).where("n_copies > 1").collect(),
            check_exact,
        )

        def check_minhash(rows):
            got = {(int(x.a_id), int(x.b_id)) for x in rows}
            recall = len(got & c.near_pairs) / len(c.near_pairs)
            r.note("text.minhash_lsh_pairs.recall", recall)
            r.note("text.minhash_lsh_pairs.precision",
                   len(got & self.all_dups) / max(1, len(got)))
            require(recall >= 0.9, f"dup_recall {recall:.3f} < 0.9")
            require(c.exact_pairs <= got, "an exact duplicate pair is missing")
            for x in rows:
                j = gen.jaccard(self.texts[int(x.a_id)], self.texts[int(x.b_id)])
                require(abs(j - float(x.jaccard)) < 1e-6 and j >= self.JACCARD,
                        "returned pair has wrong Jaccard")

        r.op(
            "text.minhash_lsh_pairs",
            lambda: minhash_lsh_pairs(self.docs, threshold=self.JACCARD).collect(),
            check_minhash,
        )

        def check_simhash(rows):
            got = {(int(x.a_id), int(x.b_id)) for x in rows}
            require(c.exact_pairs <= got, "an exact duplicate pair is missing")
            require(len(got) <= 2 * len(self.all_dups) + 100,
                    f"{len(got)} simhash pairs vs {len(self.all_dups)} planted")

        r.op(
            "text.simhash_pairs",
            lambda: simhash_pairs(self.docs).collect(),
            check_simhash,
        )

        def check_semantic(rows):
            got = {(int(x.a_id), int(x.b_id)) for x in rows}
            recall = len(got & c.vec_near_pairs) / len(c.vec_near_pairs)
            r.note("vector.semantic_dedup_pairs.recall", recall)
            require(recall >= 0.9, f"semantic dedup recall {recall:.3f} < 0.9")
            u = gen.unit_rows(c.vectors)
            for x in rows:
                s = float(u[int(x.a_id)] @ u[int(x.b_id)])
                require(s >= self.SEM_THRESHOLD - 1e-6 and abs(s - float(x.sim)) < 1e-4,
                        "returned pair below threshold or wrong cosine")

        r.op(
            "vector.semantic_dedup_pairs",
            lambda: semantic_dedup_pairs(
                self.vecs, n_clusters=16, threshold=self.SEM_THRESHOLD,
                centers="kmeans", kmeans_max_iter=5,
            ).collect(),
            check_semantic,
        )

        def topk_check(key: str, floor: float | None):
            uq, uc = gen.unit_rows(c.queries), gen.unit_rows(c.vectors)

            def check(rows):
                hits, per_q = 0, {}
                for x in rows:
                    q, cid = int(x.q_id), int(x.c_id)
                    per_q[q] = per_q.get(q, 0) + 1
                    hits += cid in c.top10[q]
                    require(abs(float(uq[q] @ uc[cid]) - float(x.sim)) < 1e-4,
                            "returned similarity is wrong")
                require(max(per_q.values(), default=0) <= 10, "more than k results")
                recall = hits / (10 * len(c.queries))
                r.note(key, recall)
                if floor is not None:
                    require(recall >= floor, f"{key} {recall:.3f} < {floor}")

            return check

        r.op(
            "vector.ivf_topk",
            lambda: ivf_topk(self.queries, self.vecs, k=10).collect(),
            topk_check("vector.ivf_topk.recall_at_10", 0.8),
        )
        r.op(
            "vector.lsh_topk",
            lambda: lsh_topk(self.queries, self.vecs, k=10).collect(),
            topk_check("vector.lsh_topk.recall_at_10", None),
        )


# ---------------------------------------------------------------------
# Reads that do not touch the upserted ``customer`` table, so the
# known stale-listing defect shows in the read-back alone.
SQL_READS = (
    "q03_group_agg", "q07_star_join", "q10_window_topk", "q15_tumbling_window",
    "x25_tpch_q1", "x27_tpch_q4", "x28_tpch_q6", "x37_tpch_q17",
)


class SqlMixed:
    """Short relational and TPC-H reads with copy-on-write customer
    upserts, each followed by a read-back of the upserted table."""

    name = "sql_mixed"
    # an analytics session serves many requests: warm it up first. After
    # two cycles the JIT still sped passes up by ~20 % over the next
    # five, so a slow run (fewer passes) also had slower ones; after
    # four, passes are flat
    WARM_UP_PASSES = 4
    ORDERS = 5_000
    UPSERT_BATCHES = 16

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self) -> None:
        self.tables = gen.make_tpch(self.seed, self.ORDERS)
        self.input_rows = sum(t.num_rows for t in self.tables.values())
        self.stream = gen.UpsertStream(
            self.seed, self.tables["customer"].to_pandas()
        )
        self.upserts = 0

    def write(self, root: str) -> None:
        self.sf_dir = os.path.join(root, "sf")
        self.batch_dir = os.path.join(root, "upserts")
        for name, t in self.tables.items():
            gen.write_table(t, self.sf_dir, name)
        for i in range(self.UPSERT_BATCHES):
            batch = pa.Table.from_pandas(self.stream.batch(i), preserve_index=False)
            gen.write_table(batch, self.batch_dir, f"batch_{i}", parts=1)

    def load(self, spark, root: str, tracer) -> None:
        from dislib_spark.tables import TABLES, load_table

        self._spark = spark
        for name in TABLES:
            with tracer.span("tables.load_table"):
                load_table(spark, self.sf_dir, name)

    def prepare_checks(self, spark) -> None:
        """Answer every read with DuckDB over the same parquet files."""
        import duckdb

        from dislib_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for name in self.tables:
                if name == "customer":
                    continue
                glob = os.path.join(self.sf_dir, f"{name}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
            self.expected = {q: con.execute(oracles[q]).fetchall() for q in SQL_READS}
        finally:
            con.close()

    def run_pass(self, r: Runner) -> None:
        from dislib_spark.queries import all_queries
        from dislib_spark.sources.merge import merge_into_path
        from dislib_spark.tables import load_table

        queries = all_queries()
        spark = self._spark
        for q in SQL_READS:
            r.op(
                f"queries.{q}",
                lambda q=q: queries[q](spark, self.sf_dir).collect(),
                lambda rows, q=q: require(_same_rows(rows, self.expected[q]),
                                          f"{q} differs from DuckDB"),
                kind="read",
            )

        i = self.upserts % self.UPSERT_BATCHES
        target = os.path.join(self.sf_dir, "customer.parquet")
        batch_path = os.path.join(self.batch_dir, f"batch_{i}.parquet")

        def upsert():
            merge_into_path(
                spark, target, load_table(spark, self.batch_dir, f"batch_{i}"),
                ["c_custkey"],
            )
            return True

        if r.op("sources.merge_into_path", upsert, kind="write"):
            self.stream.apply(self.stream.batch(i))
            r.note("sources.merge_into_path.write_amp",
                   _du(target) / _du(batch_path))
        self.upserts += 1

        def read_back():
            with r.tracer.span("tables.load_table"):
                df = load_table(spark, self.sf_dir, "customer")
            return df.toPandas()

        r.op("tables.load_table.read_back", read_back,
             lambda pdf: require(_same_customers(pdf, self.stream.state),
                                 "read-back differs from the expected upsert result"),
             kind="read")


def _norm(v):
    if isinstance(v, (float, decimal.Decimal)):
        return round(float(v), 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _same_rows(got, want) -> bool:
    """Order-insensitive row compare, floats to a relative 1e-9."""
    a = sorted((tuple(_norm(v) for v in row) for row in got), key=repr)
    b = sorted((tuple(_norm(v) for v in row) for row in want), key=repr)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not np.isclose(x, y, rtol=1e-9, atol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def _same_customers(pdf, want) -> bool:
    got = pdf.sort_values("c_custkey", ignore_index=True)
    if len(got) != len(want) or list(got.columns) != list(want.columns):
        return False
    return all(
        (got[c].to_numpy() == want[c].to_numpy()).all() for c in want.columns
    )


class MlCuration:
    """One batch job: the ml_fit phase, then the dedup_search phase,
    in a single pass over their own inputs."""

    name = "ml_curation"
    # a batch job starts a fresh process each time, so its users pay the
    # cold first pass on every run: it is measured, not warmed away
    WARM_UP_PASSES = 0

    def __init__(self, seed: int):
        self.phases = (MlFit(seed), DedupSearch(seed))
        self.input_rows = sum(p.input_rows for p in self.phases)

    def generate(self) -> None:
        for p in self.phases:
            p.generate()

    def write(self, root: str) -> None:
        for p in self.phases:
            p.write(root)

    def load(self, spark, root: str, tracer) -> None:
        for p in self.phases:
            p.load(spark, root, tracer)

    def prepare_checks(self, spark) -> None:
        pass

    def run_pass(self, r: Runner) -> None:
        for p in self.phases:
            p.run_pass(r)


WORKLOADS = {w.name: w for w in (MlCuration, SqlMixed)}
