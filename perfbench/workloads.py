"""The benchmark's closed-loop workloads (one client, one op at a time).

Each workload prepares its inputs from the seed in ``setup``, runs one op
per ``op`` call and checks that op's output in ``check``, outside the timed
region.  ``check`` compares the whole output with an oracle, for traced ops
as for untraced ones, so a passing traced op shows that forcing frames
inside spans changed no output.  ``tracer`` is None in untraced runs; spans
are then no-ops.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import duckdb
import numpy as np

from fixtures import TABLES, write_fixtures
from spans import instrument_catalog, instrument_pipeline

SIZES = {"default": 2000, "tiny": 150}  # build_oneshot pages
KG_SIZES = {"default": 300, "tiny": 100}  # pages of query_serve's KG

HEADLINERS = (
    "kg_extract_triples", "kg_entity_attrs", "kg_relation_tags", "term_graph",
    "minhash_sigs", "minhash_fast", "simhash", "ngram_jaccard", "knn_batch",
    "near_dup_lsh", "label_centroids", "dim_join", "entity_fold",
    "relation_group", "text_quality",
)


class CheckFailed(Exception):
    """An op's output differs from its oracle."""


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext({"counts": defaultdict(float)})


def _threads() -> int:
    return len(os.sched_getaffinity(0))


class BuildOneshot:
    """build_kg over a scaled-world corpus staged as parquet; checked
    against the corpus oracle (union-find canonicalisation and folds in
    pure Python)."""

    name = "build_oneshot"

    def __init__(self, spark, seed: int, scale: str, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.n_pages = SIZES[scale]
        self.counters: dict = {}

    def setup(self, tracer=None) -> None:
        from knowledgegraph_spark.corpus import (
            generate_corpus,
            oracle_entities,
            oracle_triples,
            pages_dataframe,
        )

        # staged on disk, not persisted: ops release every cached frame
        path = os.path.join(self.work, "pages")
        pages_dataframe(self.spark, self.n_pages, seed=self.seed, scaled=True).write.parquet(path)
        self.pages = self.spark.read.parquet(path)
        corpus = generate_corpus(self.n_pages, seed=self.seed, scaled=True)
        self.want_triples = sorted(
            (t["subj"], t["pred"], t["obj"], t["strength"], tuple(t["sources"]))
            for t in oracle_triples(corpus)
        )
        self.want_entities = sorted(
            (e["name"], e["type"], tuple(e["aliases"]), tuple(e["sources"]))
            for e in oracle_entities(corpus)
        )
        self.kernel_pages = [
            (p["url"], p["warc_ts"], p["html"], p["text"])
            for p in corpus["pages"] if p["lang"] == "en"
        ]

    def op(self, i: int, tracer=None):
        from knowledgegraph_spark.plans.pipeline import build_kg

        with _span(tracer, "pipeline"):
            res = build_kg(self.spark, self.pages)
        res.n_entities = res.entities.count()
        res.n_triples = res.triples.count()
        return res, {}

    def cold_start(self) -> None:
        """One checked op on tiny inputs: a fresh JVM's first build pays for
        JIT, code generation and Python worker start-up at any input size."""
        tiny = BuildOneshot(self.spark, self.seed, "tiny", os.path.join(self.work, "cold-start"))
        tiny.setup()
        tiny.check(tiny.op(0)[0])

    def traced(self, tracer):
        return instrument_pipeline(tracer, self.counters)

    def check(self, res) -> None:
        got_t = sorted(
            (r.subj, r.pred, r.obj, r.strength, tuple(sorted(r.sources)))
            for r in res.triples.collect()
        )
        got_e = sorted(
            (r.name, r.type, tuple(r.aliases), tuple(r.sources))
            for r in res.entities.collect()
        )
        if (res.n_triples, res.n_entities) != (len(got_t), len(got_e)):
            raise CheckFailed("count() disagrees with collect()")
        if got_t != self.want_triples:
            raise CheckFailed(
                f"triples differ from oracle: {len(got_t)} vs {len(self.want_triples)}"
            )
        if got_e != self.want_entities:
            raise CheckFailed(
                f"entities differ from oracle: {len(got_e)} vs {len(self.want_entities)}"
            )

    def kernel_us_per_page(self) -> float:
        """extract_text_py + extract_page_py in this process, per English
        page: the extraction layer's Python compute without Arrow or task
        scheduling."""
        from knowledgegraph_spark.operators.extraction import extract_page_py
        from knowledgegraph_spark.operators.html_text import extract_text_py

        t0 = time.perf_counter()
        for url, ts, html, text in self.kernel_pages:
            extract_page_py(url, ts, extract_text_py(html, text))
        return (time.perf_counter() - t0) * 1e6 / max(1, len(self.kernel_pages))

    def detail(self, op_ms: list[float], parts: list[dict]) -> dict:
        return {
            "build_pages_per_s": self.n_pages / (statistics.median(op_ms) / 1000.0),
            "n_pages": self.n_pages,
            "n_triples": len(self.want_triples),
            "n_entities": len(self.want_entities),
        }


class EntryHeadliners:
    """One sweep of bench.py's 15 headliner queries over seeded fixture
    tables; each query's row count is checked against its DuckDB oracle."""

    name = "entry_headliners"

    def __init__(self, spark, seed: int, scale: str, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.scale = scale

    def setup(self, tracer=None) -> None:
        import __spark_entry__ as entry

        self.sf = os.path.join(self.work, "sf")
        write_fixtures(self.sf, self.seed, self.scale)
        self.queries = entry.queries()
        db = duckdb.connect()
        for t in TABLES:
            db.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        oracle = entry.oracle_sql()
        self.want = {
            q: db.execute(f"SELECT count(*) FROM ({oracle[q]})").fetchone()[0]
            for q in HEADLINERS
        }
        db.close()

    def op(self, i: int, tracer=None):
        counts, ms = {}, {}
        for q in HEADLINERS:
            t0 = time.perf_counter()
            with _span(tracer, f"entry.{q}") as s:
                counts[q] = s["counts"]["rows_out"] = self.queries[q](self.spark, self.sf).count()
            ms[q] = (time.perf_counter() - t0) * 1000.0
        return counts, ms

    def cold_start(self) -> None:
        """Two passes of the 15 queries, one query per usable CPU at a time,
        each pass checked: a query's first runs plan, compile and JIT it,
        and running them side by side takes half the wall of a sequential
        sweep."""
        for _ in range(2):
            with ThreadPoolExecutor(_threads()) as pool:
                counts = pool.map(lambda q: self.queries[q](self.spark, self.sf).count(), HEADLINERS)
                self.check(dict(zip(HEADLINERS, counts)))

    def traced(self, tracer):
        return nullcontext()

    def check(self, counts) -> None:
        bad = {q: (counts[q], self.want[q]) for q in HEADLINERS if counts[q] != self.want[q]}
        if bad:
            raise CheckFailed(f"row counts differ from DuckDB oracle: {bad}")

    def detail(self, op_ms: list[float], parts: list[dict]) -> dict:
        return {
            "oracle_rows": self.want,
            "query_p50_ms": {
                q: statistics.median(p[q] for p in parts) for q in HEADLINERS if parts
            },
        }


class QueryServe:
    """One round of the query surface over KG tables committed through the
    catalog: a point lookup, a 1-hop and a 2-hop traversal and a semantic
    top-k, each planned from a fresh ``Catalog.read``.  Each answer is
    checked against DuckDB over the same parquet files."""

    name = "query_serve"
    KINDS = ("lookup", "one_hop", "two_hop", "topk")
    N_BUCKETS = 64  # run_pipeline's default table layout
    N_ROUNDS = 64

    def __init__(self, spark, seed: int, scale: str, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.n_pages = KG_SIZES[scale]
        self._want: dict[int, dict] = {}

    def setup(self, tracer=None) -> None:
        from pyspark.sql import functions as F

        from knowledgegraph_spark.corpus import pages_dataframe
        from knowledgegraph_spark.plans.pipeline import build_kg
        from knowledgegraph_spark.query import with_embeddings
        from knowledgegraph_spark.sources.catalog import Catalog

        res = build_kg(self.spark, pages_dataframe(self.spark, self.n_pages, seed=self.seed, scaled=True))
        # computed before the commits, so the catalog spans time writing only
        tables = {
            "entity_nodes": res.entities,
            "triples": res.triples,
            "entity_embeddings": with_embeddings(res.entities).select("name", "type", "embedding"),
        }
        for df in tables.values():
            df.persist().count()

        def bucket(col):
            return F.pmod(F.xxhash64(col), F.lit(self.N_BUCKETS)).cast("int")

        meta = {"n_buckets": self.N_BUCKETS, "partition_col": "bucket"}
        self.cat = Catalog(self.spark, os.path.join(self.work, "warehouse"))
        with instrument_catalog(tracer) if tracer is not None else nullcontext():
            with _span(tracer, "setup"):
                self.cat.write(tables["entity_nodes"].withColumn("bucket", bucket("name")),
                               "entity_nodes", partition_by=["bucket"], meta=meta)
                self.cat.write(tables["triples"].withColumn("bucket", bucket("relation_id")),
                               "triples", partition_by=["bucket"], meta=meta)
                self.cat.write(tables["entity_embeddings"], "entity_embeddings")
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        self.spark.catalog.clearCache()

        self.db = duckdb.connect()
        for t, glob in (("entity_nodes", "*/*"), ("triples", "*/*"), ("entity_embeddings", "*")):
            self.db.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{self.cat._real(t)}/{glob}.parquet', hive_partitioning = true)"
            )
        self.rounds = self._mix()

    def _mix(self) -> list[dict]:
        """Seeded names per round: for each query kind, alternately a
        Zipf draw over entities ranked by degree (hubs) and a uniform draw
        (mostly tail entities)."""
        names = [r[0] for r in self.db.execute("""
            SELECT e.name FROM entity_nodes e LEFT JOIN (
                SELECT name, count(*) AS d FROM (
                    SELECT subj AS name FROM triples UNION ALL SELECT obj FROM triples
                ) GROUP BY name
            ) g USING (name)
            ORDER BY coalesce(g.d, 0) DESC, e.name, e.type
        """).fetchall()]
        rng = np.random.default_rng(self.seed)
        zipf = 1.0 / np.arange(1, len(names) + 1)
        zipf /= zipf.sum()
        return [
            {
                kind: names[rng.choice(len(names), p=zipf) if (i + j) % 2 == 0
                            else rng.integers(len(names))]
                for j, kind in enumerate(self.KINDS)
            }
            for i in range(self.N_ROUNDS)
        ]

    def _plans(self, i: int) -> dict:
        from knowledgegraph_spark import query as Q

        r = self.rounds[i % self.N_ROUNDS]
        read = self.cat.read
        return {
            "lookup": lambda: Q.entity_details(read("entity_nodes"), r["lookup"]),
            "one_hop": lambda: Q.one_hop(read("triples"), r["one_hop"]),
            "two_hop": lambda: Q.two_hop(read("triples"), r["two_hop"]),
            "topk": lambda: Q.semantic_search(read("entity_embeddings"), r["topk"], k=10),
        }

    def cold_start(self) -> None:
        """The last round's four queries at once, checked: each query's
        first run plans and compiles it."""
        i = self.N_ROUNDS - 1
        plans = self._plans(i)
        with ThreadPoolExecutor(len(plans)) as pool:
            rows = pool.map(lambda kind: plans[kind]().collect(), self.KINDS)
            self.check((i, dict(zip(self.KINDS, rows))))

    def op(self, i: int, tracer=None):
        plans = self._plans(i)
        rows, ms = {}, {}
        for kind in self.KINDS:
            t0 = time.perf_counter()
            with _span(tracer, f"query.{kind}") as s:
                rows[kind] = plans[kind]().collect()
                s["counts"]["rows_out"] = len(rows[kind])
            ms[kind] = (time.perf_counter() - t0) * 1000.0
        return (i, rows), ms

    def traced(self, tracer):
        return nullcontext()

    def _oracle(self, i: int) -> dict:
        if i not in self._want:
            from knowledgegraph_spark.functions.embedding import embed_text_py

            r = self.rounds[i]
            q = self.db.execute
            qv = [float(x) for x in embed_text_py(r["topk"])]
            scores = defaultdict(list)
            for name, sc in q(
                "SELECT name, list_cosine_similarity(embedding::DOUBLE[], $1::DOUBLE[]) "
                "FROM entity_embeddings", [qv]
            ).fetchall():
                scores[name].append(sc)
            self._want[i] = {
                "lookup": sorted(
                    (n, t, tuple(a)) for n, t, a in q(
                        "SELECT name, type, aliases FROM entity_nodes WHERE name = $1", [r["lookup"]]
                    ).fetchall()
                ),
                "one_hop": q("""
                    SELECT * FROM (
                        SELECT 'out' AS direction, pred, obj AS neighbor, strength
                        FROM triples WHERE subj = $1
                        UNION ALL
                        SELECT 'in', pred, subj, strength FROM triples WHERE obj = $1
                    ) ORDER BY direction, pred, neighbor LIMIT 20
                """, [r["one_hop"]]).fetchall(),
                "two_hop": q("""
                    WITH und AS (
                        SELECT subj AS a, pred, obj AS b FROM triples
                        UNION ALL SELECT obj, pred, subj FROM triples
                    )
                    SELECT DISTINCT h1.b AS mid, h1.pred AS pred1, h2.pred AS pred2, h2.b AS neighbor
                    FROM und h1 JOIN und h2 ON h2.a = h1.b
                    WHERE h1.a = $1 AND h2.b <> $1
                    ORDER BY mid, pred1, pred2, neighbor LIMIT 100
                """, [r["two_hop"]]).fetchall(),
                "topk_scores": sorted((s for v in scores.values() for s in v), reverse=True)[:10],
                "scores": scores,
            }
        return self._want[i]

    def check(self, res) -> None:
        i, rows = res
        want = self._oracle(i % self.N_ROUNDS)
        got = {
            "lookup": sorted((x["name"], x["type"], tuple(x["aliases"])) for x in rows["lookup"]),
            "one_hop": [tuple(x) for x in rows["one_hop"]],
            "two_hop": [tuple(x) for x in rows["two_hop"]],
        }
        for kind, value in got.items():
            if value != want[kind]:
                raise CheckFailed(f"{kind} differs from DuckDB: {len(value)} vs {len(want[kind])} rows")
        top = [(x["entity_name"], x["cosine_sim"]) for x in rows["topk"]]
        if len(top) != len(want["topk_scores"]) or any(
            abs(s - w) > 1e-5 or not any(abs(s - d) <= 1e-5 for d in want["scores"][n])
            for (n, s), w in zip(top, want["topk_scores"])
        ):
            raise CheckFailed("topk differs from DuckDB cosine ranking")

    def detail(self, op_ms: list[float], parts: list[dict]) -> dict:
        return {
            "n_pages": self.n_pages,
            "query_p50_ms": {
                k: statistics.median(p[k] for p in parts) for k in self.KINDS if parts
            },
            "queries_per_kind": len(parts),
        }


WORKLOADS = {w.name: w for w in (BuildOneshot, EntryHeadliners, QueryServe)}
