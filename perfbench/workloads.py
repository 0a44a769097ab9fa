"""The closed-loop workloads.

Each workload has a ``setup(rep_dir)`` that generates its inputs from
the seed and builds the state its ops need, a ``warm_up()`` that calls
every op form once, and a ``cycle()`` that returns the same number of
ops of every form; the seed chooses the order and the parameters.  An op is ``(kind, form, run,
check)``: ``run()`` is the timed call into the program, ``check(result)``
runs afterwards, untimed, and raises ``AssertionError`` on a wrong
output.
"""

from __future__ import annotations

import datetime as dt
import glob
import gzip
import os
import sys

import duckdb
import numpy as np

import datagen
from check import assert_frames_equal, oracle_frame


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, tracer=None) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 17])

    def setup(self, rep_dir: str) -> None:
        raise NotImplementedError

    def cycle(self) -> list[tuple]:
        raise NotImplementedError

    def warm_up(self) -> None:
        """One call of every op form, checks included.  A failure is
        reported and left for the measured loop to count."""
        seen = set()
        for _kind, form, run, check in self.cycle():
            if form in seen:
                continue
            seen.add(form)
            try:
                check(run())
            except Exception as e:
                print(f"warm-up {form} failed: {type(e).__name__}: {e}", file=sys.stderr)

    def build_index(self) -> None:
        """State built once per run, after the input set-ups."""

    def reset(self) -> None:
        """Forget what set-up and warm-up recorded."""

    def summary(self, log) -> dict[str, tuple]:
        """Workload-specific metrics: name -> (value, unit, samples[,
        percentile])."""
        raise NotImplementedError


# -- ingest_export ----------------------------------------------------------------

class IngestExport(Workload):
    """locopy's own surface: COPY in, UNLOAD out, insert frames."""

    name = "ingest_export"
    kinds = ("load", "unload", "unload_fetch", "insert")
    N_LOAD = 40_000
    N_INSERT = 5_000
    SPLITS = 4

    def setup(self, rep_dir: str) -> None:
        from locopy_spark.warehouse import Warehouse

        self.dir = rep_dir
        os.makedirs(os.path.join(rep_dir, "in"))
        self.frame = datagen.load_frame(self.seed, self.N_LOAD)
        self.csv = os.path.join(rep_dir, "in", "lineitem.csv")
        self.csv_bytes = datagen.write_pipe_csv(self.frame, self.csv)
        self.inserts = [
            datagen.insert_frame(self.seed, self.N_INSERT, b) for b in range(4)
        ]
        self.duck = duckdb.connect()
        self.duck.register("bench_load", self.frame)
        self.wh = Warehouse(spark=self.spark, stage_root=os.path.join(rep_dir, "stage"))
        self.wh.connect()
        self.n_op = 0
        self.staged_bytes: list[float] = []

    def reset(self) -> None:
        self.staged_bytes = []

    def _next(self) -> int:
        self.n_op += 1
        return self.n_op

    def _load(self):
        n = self._next()
        folder = f"load_{n}"

        def run():
            df = self.wh.load_and_copy(
                self.csv, folder, "bench_load", delim="|",
                copy_options=["IGNOREHEADER 1"], splits=self.SPLITS,
                compress=True, schema=datagen.LOAD_SCHEMA,
            )
            return df, df.count()

        def check(res):
            df, n_rows = res
            got = df.selectExpr(
                "sum(l_orderkey)", "sum(CAST(round(l_extendedprice * 100) AS BIGINT))",
                "count(DISTINCT l_shipdate)", "sum(length(l_comment))",
            ).collect()[0]
            f = self.frame
            want = (
                int(f.l_orderkey.sum()), int(np.round(f.l_extendedprice * 100).sum()),
                int(f.l_shipdate.nunique()), int(f.l_comment.str.len().sum()),
            )
            assert n_rows == len(f), f"loaded {n_rows} rows, expected {len(f)}"
            assert tuple(got) == want, f"checksum {tuple(got)} != {want}"
            staged = glob.glob(os.path.join(self.dir, "stage", folder, "*"))
            self.staged_bytes.append(sum(os.path.getsize(p) for p in staged))

        return ("load", "load", run, check)

    def _predicate(self) -> str:
        r = self.rng
        lo = int(r.integers(1, 40))
        flag = ["A", "N", "R"][int(r.integers(0, 3))]
        return f"l_quantity BETWEEN {lo} AND {lo + 10} AND l_returnflag = '{flag}'"

    def _unload(self):
        n = self._next()
        path = os.path.join(self.dir, "out", f"unload_{n}")
        pred = self._predicate()
        sql = f"SELECT * FROM bench_load WHERE {pred}"

        def run():
            return self.wh.unload(sql, path, ["GZIP", "HEADER"])

        def check(_df):
            want = self.duck.execute(f"SELECT count(*) FROM bench_load WHERE {pred}").fetchone()[0]
            got = 0
            files = glob.glob(os.path.join(path, "part-*"))
            assert files, "unload wrote no files"
            for p in files:
                with gzip.open(p, "rt") as fh:
                    got += max(0, sum(1 for _ in fh) - 1)  # minus the header
            assert got == want, f"unloaded {got} rows, expected {want}"

        return ("unload", "unload", run, check)

    def _unload_fetch(self):
        n = self._next()
        path = os.path.join(self.dir, "out", f"unload_fetch_{n}")
        pred = self._predicate()
        sql = (
            "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, "
            f"l_returnflag FROM bench_load WHERE {pred}"
        )

        def run():
            return self.wh.unload_and_copy(sql, path, ["GZIP", "HEADER"])

        def check(pdf):
            assert_frames_equal(pdf, oracle_frame(self.duck, sql))

        return ("unload_fetch", "unload_fetch", run, check)

    def _insert(self):
        n = self._next()
        frame = self.inserts[n % len(self.inserts)]
        table = f"bench_insert_{n}"

        def run():
            return self.wh.insert_dataframe_to_table(frame, table)

        def check(df):
            types = dict(df.dtypes)
            assert types.get("day") == "date", f"day inferred as {types.get('day')}"
            got = df.selectExpr(
                "count(*)", "sum(qty)", "sum(CAST(round(price * 100) AS BIGINT))",
                "sum(CAST(flag AS INT))", "count(DISTINCT label)",
                "max(CAST(day AS STRING))",
            ).collect()[0]
            want = (
                len(frame), int(frame.qty.sum()), int(np.round(frame.price * 100).sum()),
                int(frame.flag.sum()), int(frame.label.nunique()), max(frame.day),
            )
            assert tuple(got) == want, f"inserted {tuple(got)} != {want}"
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")

        return ("insert", "insert", run, check)

    # Rounds of the four ops per cycle.  Latencies fall for several
    # rounds after the warm-up, so the number of rounds measured must not
    # depend on speed: three rounds take 6-12 s, so ``--seconds 12``
    # measures two cycles over that whole range.
    ROUNDS = 3

    def cycle(self) -> list[tuple]:
        # the unloads read the loaded view, so a round always loads first
        ops = []
        for _ in range(self.ROUNDS):
            ops += [self._load(), self._unload(), self._unload_fetch(), self._insert()]
        return ops

    def summary(self, log):
        from metrics import p50

        out = {}
        loads = log.latencies(("load",))
        if loads:
            out["load_p50_s"] = (p50(loads), "s", len(loads))
            out["load_rows_per_s"] = (len(loads) * self.N_LOAD / sum(loads), "1/s", len(loads))
        if self.staged_bytes:
            out["stage_bytes_per_input_byte"] = (
                float(np.median(self.staged_bytes)) / self.csv_bytes, "ratio", len(self.staged_bytes))
        unl = log.latencies(("unload", "unload_fetch"))
        if unl:
            out["unload_p50_s"] = (p50(unl), "s", len(unl))
        ins = log.latencies(("insert",))
        if ins:
            out["insert_p50_s"] = (p50(ins), "s", len(ins))
        return out


# -- analytics_retrieval ------------------------------------------------------

QUERY_KEYS = (  # one per query family
    "q3_top_unshipped",  # tpch
    "q12_late_lines",  # tpch_ext
    "q_events_funnel",  # events
    "q_retention_cohorts",  # events_ext
    "q_correlation",  # stats
)

POINT_SQL = (
    "SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, "
    "count(l.l_orderkey) AS n_lines, "
    "sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents "
    "FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE o.o_orderkey = {k} "
    "GROUP BY o.o_orderkey, o.o_custkey, o.o_orderpriority"
)
RANGE_SQL = (
    "SELECT l_returnflag, count(*) AS n, "
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents "
    "FROM lineitem WHERE l_shipdate >= {lo} AND l_shipdate < {hi} "
    "GROUP BY l_returnflag"
)
KNN_METHODS = ("lsh", "ivf", "int8")


class AnalyticsRetrieval(Workload):
    """The read side: oracle-checked queries, parameterised SQL fetched
    to pandas, single-query kNN from a materialized ANN index and
    near-duplicate detection over a document batch."""

    name = "analytics_retrieval"
    kinds = ("query", "fetch", "knn", "dedup")
    N_ORDERS = 15_000
    N_VECS = 2_000
    N_DOCS = 1_200
    N_BATCHES = 4
    K = 10
    PREFIX = "bench_ann"
    QUALITY_MIN = 0.1

    def setup(self, rep_dir: str) -> None:
        import __spark_entry__ as entry
        from locopy_spark.database import Database
        from locopy_spark.sources.tables import register_views

        self.sf_dir = os.path.join(rep_dir, "sf")
        tables = datagen.star_tables(self.seed, self.N_ORDERS)
        datagen.write_tables(tables, self.sf_dir)
        self.duck = duckdb.connect()
        for t in tables:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            self.duck.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
        oracles = entry.oracle_sql()
        self.queries = {k: entry.queries()[k] for k in QUERY_KEYS}
        if self.tracer is not None:
            from layers import query_family

            self.queries = {
                k: self.tracer.wrap(fn, query_family(fn)) for k, fn in self.queries.items()
            }
        self.expected = {k: oracle_frame(self.duck, oracles[k]) for k in QUERY_KEYS}
        self.n_orders = len(tables["orders"])

        emb = datagen.embeddings(self.seed, self.N_VECS)
        self.vecs = np.stack(emb["embedding"].to_numpy()).astype("float64")
        self.vecs /= np.linalg.norm(self.vecs, axis=1, keepdims=True)
        self.emb_path = os.path.join(rep_dir, "embeddings.parquet")
        datagen.write_embeddings(emb, self.emb_path)
        self.docs, self.planted = datagen.documents(self.seed, self.N_DOCS, self.N_BATCHES)
        self.docs_path = os.path.join(rep_dir, "documents.parquet")
        datagen.write_tables({"documents": self.docs}, rep_dir)

        self.db = Database(spark=self.spark)
        self.db.connect()
        register_views(self.spark, self.sf_dir, ["orders", "lineitem"])
        self.reset()

    def build_index(self) -> None:
        """The ANN index the kNN ops serve from (set-up, once per run)."""
        from locopy_spark.operators import ann_index

        ann_index.materialize_ann_index(
            self.spark.read.parquet(self.emb_path), prefix=self.PREFIX
        )

    def reset(self) -> None:
        self.recalls: list[float] = []
        self.pair_recalls: list[float] = []
        self.dedup_docs = 0

    def _query(self, key: str):
        fn = self.queries[key]

        def run():
            return fn(self.spark, self.sf_dir).toPandas()

        def check(pdf):
            assert_frames_equal(pdf, self.expected[key])

        return ("query", key, run, check)

    def _fetch(self, form: str, sql: str, params: dict, duck_sql: str, duck_params: list):
        def run():
            self.db.execute(sql, params=params, verbose=False)
            return self.db.to_dataframe()

        def check(pdf):
            want = oracle_frame(self.duck, duck_sql, duck_params)
            if pdf is None:
                assert len(want) == 0, f"empty fetch, DuckDB has {len(want)} rows"
                return
            assert_frames_equal(pdf, want)

        return ("fetch", form, run, check)

    def _point(self):
        k = int(self.rng.integers(0, self.n_orders))
        return self._fetch(
            "point", POINT_SQL.format(k=":k"), {"k": k}, POINT_SQL.format(k="$1"), [k]
        )

    def _range(self):
        (lo, hi), = datagen.seeded_dates(int(self.rng.integers(1 << 30)), 1)
        return self._fetch(
            "range", RANGE_SQL.format(lo=":lo", hi=":hi"), {"lo": lo, "hi": hi},
            RANGE_SQL.format(lo="$1", hi="$2"),
            [dt.datetime.combine(lo, dt.time()), dt.datetime.combine(hi, dt.time())],
        )

    def _exact_topk(self, qid: int) -> list[int]:
        sims = self.vecs @ self.vecs[qid]
        sims[qid] = -np.inf
        return list(np.argsort(-sims, kind="stable")[: self.K])

    def _knn(self, method: str):
        from locopy_spark.operators import ann_index

        fn_name = f"knn_{method}_indexed"
        qid = int(self.rng.integers(0, self.N_VECS))

        def run():
            fn = getattr(ann_index, fn_name)
            return fn(self.spark, [qid], self.K, prefix=self.PREFIX).toPandas()

        def check(pdf):
            assert len(pdf) <= self.K, f"{len(pdf)} rows for k={self.K}"
            assert (pdf.query_id == qid).all(), "rows for another query"
            nb = pdf.neighbor_id.to_numpy()
            assert len(set(nb)) == len(nb) and qid not in nb, "bad neighbour ids"
            assert ((nb >= 0) & (nb < self.N_VECS)).all(), "unknown neighbour id"
            cos = self.vecs[nb] @ self.vecs[qid]
            assert np.allclose(pdf.cosine.to_numpy(), cos, atol=1e-4), "wrong cosine"
            exact = self._exact_topk(qid)
            self.recalls.append(len(set(nb) & set(exact)) / self.K)

        return ("knn", method, run, check)

    def _dedup(self):
        from pyspark.sql import functions as F

        from locopy_spark.functions import cache
        from locopy_spark.functions.text import quality_score_expr, tokens_expr
        from locopy_spark.operators import dedup

        b = int(self.rng.integers(0, self.N_BATCHES))

        def run():
            docs = self.spark.read.parquet(self.docs_path).filter(
                F.col("doc_id") % self.N_BATCHES == b
            )
            kept = (
                docs.withColumn("toks", F.expr(tokens_expr("text")))
                .filter(F.expr(quality_score_expr()) > self.QUALITY_MIN)
                .drop("toks")
            )
            groups = dedup.exact_dedup(kept).toPandas()
            pairs = dedup.minhash_lsh_pairs(kept).toPandas()
            cache.release_persists()
            return groups, pairs

        def check(res):
            groups, pairs = res
            batch = self.docs[self.docs.doc_id % self.N_BATCHES == b]
            keep = batch[[
                (s is not None and s > self.QUALITY_MIN)
                for s in map(datagen.quality_score, batch.text)
            ]]
            want = (
                keep.assign(norm=keep.text.map(datagen.normalized))
                .groupby("norm").doc_id.agg(["min", "count"])
            )
            got = sorted(zip(groups.keep_id, groups.n_dupes))
            assert got == sorted(zip(want["min"], want["count"])), "exact groups differ"
            ids = set(keep.doc_id)
            found = {(int(min(a, c)), int(max(a, c))) for a, c in zip(pairs.doc_a, pairs.doc_b)}
            assert all(a in ids and c in ids and a != c for a, c in found), "bad pair ids"
            planted = {p for p in self.planted if p[0] % self.N_BATCHES == b}
            self.pair_recalls.append(len(planted & found) / len(planted))
            self.dedup_docs += len(batch)

        return ("dedup", "dedup", run, check)

    def cycle(self) -> list[tuple]:
        ops = [self._query(k) for k in QUERY_KEYS]
        ops += [self._point(), self._range()]
        ops += [self._knn(m) for m in KNN_METHODS]
        ops.append(self._dedup())
        return [ops[i] for i in self.rng.permutation(len(ops))]

    def summary(self, log):
        from metrics import p50, tail

        out = {}
        for kind in ("query", "knn"):
            lat = log.latencies((kind,))
            if lat:
                out[f"{kind}_p50_s"] = (p50(lat), "s", len(lat))
                tv, tp = tail(lat)
                out[f"{kind}_tail_s"] = (tv, "s", len(lat), tp)
        f = log.latencies(("fetch",))
        if f:
            out["fetch_p50_s"] = (p50(f), "s", len(f))
        if self.recalls:
            out["knn_recall_at_k"] = (float(np.mean(self.recalls)), "ratio", len(self.recalls))
        d = log.latencies(("dedup",))
        if d:
            out["dedup_docs_per_s"] = (self.dedup_docs / sum(d), "1/s", len(d))
        if self.pair_recalls:
            out["planted_pair_recall"] = (
                float(np.mean(self.pair_recalls)), "ratio", len(self.pair_recalls))
        return out


WORKLOADS = {w.name: w for w in (IngestExport, AnalyticsRetrieval)}
