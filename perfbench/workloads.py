"""The workloads. Each generates its inputs from the seed, resets its
outputs to a pristine state before every pass, runs one pass as a
sequence of steps through ``Bench.step`` and checks the last pass's
outputs against references computed without the code under test's
Spark plans (DuckDB over the same files, the library's pure-Python
cores, or the generator's ground truth).

``BENCHMARK.json`` declares ``sql_analytics`` and ``corpus_dedup``;
together they cover every layer. ``geo_publish`` (WKB/raster pandas
UDFs, then publish through sync and governance) runs the same way from
the command line but is not declared: with it, the declared runs would
not fit the benchmark's total time budget."""

from __future__ import annotations

import os
import shutil
from collections import defaultdict

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
from harness import Bench


def _write_pq(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _read(path: str) -> pa.Table:
    return pq.read_table(path)


def _compact_bytes(table: pa.Table, tmp: str) -> int:
    """Size of ``table`` written once as one parquet file."""
    pq.write_table(table, tmp)
    n = os.path.getsize(tmp)
    os.remove(tmp)
    return n


def register_governed_table(spark, schema: str, table: str, ddl: str,
                            column: str, column_tags: dict) -> None:
    """Catalog entry carrying the governance metadata of a published
    table (the reference keeps it in table properties)."""
    from dask_felleskomponenter_spark.governance import TblPropertiesMetadataStore

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    spark.sql(f"DROP TABLE IF EXISTS {schema}.{table}")
    spark.sql(f"CREATE TABLE {schema}.{table} ({ddl}) USING parquet")
    store = TblPropertiesMetadataStore(spark)
    store.set_tags(schema, table, GOV_TAGS)
    store.set_comment(schema, table, f"{schema}.{table} publisert av benchmarken")
    store.set_column_properties(schema, table, column, column_tags)


def _validated(meta):
    """Action of the validation step: fail on findings, else fetch the
    column metadata."""
    def action(errors):
        if errors:
            raise RuntimeError(f"published table metadata invalid: {errors}")
        return meta.get_table_column_metadata().collect()
    return action


def _column_tags(rows) -> dict:
    return {
        (r["column_name"], r["tag_name"]): r["tag_value"]
        for r in rows if r["tag_name"] is not None
    }


GOV_TAGS = {
    "tittel": "Publiserte data",
    "tilgangsnivaa": "http://publications.europa.eu/resource/authority/access-right/PUBLIC",
    "medaljongnivaa": "gold",
    "hovedkategori": "https://register.geonorge.no/metadata-kodelister/tematisk-hovedkategori/farming",
    "begrep": "https://register.geonorge.no/metadata-kodelister/nasjonal-temainndeling/Samfunnssikkerhet",
    "epsg_koder": "25833",
    "emneord": "benchmark",
    "sikkerhetsnivaa": "https://register.geonorge.no/metadata-kodelister/sikkerhetsnivaa/unclassified_sensitive",
}
CORPUS_COLUMN_TAGS = {"spraak": "en", "beskrivelse": "dokumenttekst"}


class Workload:
    def __init__(self, spark, run_dir: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.input_dir = os.path.join(run_dir, "inputs")
        self.data_dir = os.path.join(run_dir, "data")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.input_rows = 0

    # warm-up passes after the cold pass before the steadiness test, and
    # the most warm-up passes a run may spend before timing regardless
    min_warmup = 1
    max_warmup = 2

    @property
    def write_roots(self) -> list[str]:
        return [self.data_dir, self.warehouse]

    def discard_inputs(self) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)

    def prepare(self) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        os.makedirs(self.data_dir)
        self.spark.catalog.clearCache()

    def run_pass(self, b: Bench) -> None:
        raise NotImplementedError

    def check(self, b: Bench) -> dict[str, list[str]]:
        raise NotImplementedError

    def changed_bytes(self) -> int:
        return 0

    def live_bytes(self) -> int:
        return 0

    def path(self, name: str) -> str:
        return os.path.join(self.data_dir, name)


# ---------------------------------------------------------------------------

# The declared queries the workload runs, in pass order: TPC-H shapes,
# an outer join, rollup, a percentile aggregate and a top-n window. Eight
# of the JVM-only declared queries: with all thirty, one run (cold pass,
# warm-up, timed passes) would not fit the per-run time budget.
SQL_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q13_customer_distribution", "q18_large_volume_customers",
    "agg_rollup_status_priority", "percentile_disc_prices",
    "window_topn_orders_per_customer",
)


class SqlAnalytics(Workload):
    # driver-side planning keeps speeding up for about five warm passes
    min_warmup = 4
    max_warmup = 6

    def prepare(self) -> None:
        rows = datagen.write_star(self.seed, self.input_dir)
        self.input_rows = sum(rows.values())

    def run_pass(self, b: Bench) -> None:
        from dask_felleskomponenter_spark.plans import QUERIES

        # the client fetches each result; the last pass's rows are checked
        self.results = {}
        for name in SQL_QUERIES:
            df = b.step(
                "plans", name,
                lambda name=name: QUERIES[name](self.spark, self.input_dir),
                lambda df: (df, df.collect()),
            )
            self.results[name] = df

    def check(self, b: Bench) -> dict[str, list[str]]:
        from dask_felleskomponenter_spark.plans import ORACLES
        from tests.test_oracle_parity import _normalize

        con = duckdb.connect()
        for f in sorted(os.listdir(self.input_dir)):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"'{os.path.join(self.input_dir, f)}'"
            )
        wrong = []
        for name in SQL_QUERIES:
            sdf, collected = self.results[name]
            rows = [r.asDict() for r in collected]
            cur = con.execute(ORACLES[name])
            cols = [d[0] for d in cur.description]
            drows = [dict(zip(cols, r)) for r in cur.fetchall()]
            if sorted(sdf.columns) != sorted(cols) or _normalize(
                rows, sdf.columns
            ) != _normalize(drows, cols):
                wrong.append(name)
        con.close()
        return {"checked": list(SQL_QUERIES), "wrong": wrong}


# ---------------------------------------------------------------------------

JACCARD_T = 0.6
HISTORY = "perfbench_dedup_history"


class CorpusDedup(Workload):
    def prepare(self) -> None:
        self.corpus = datagen.corpus(self.seed)
        self.stream_dir = os.path.join(self.input_dir, "stream")
        self.release_dir = os.path.join(self.input_dir, "release")
        self.in_bytes = datagen.write_corpus(
            self.corpus, self.stream_dir, self.release_dir
        )
        self.input_rows = len(self.corpus.docs)
        register_governed_table(
            self.spark, "corpus", "published",
            "doc_id BIGINT, component BIGINT, cluster_size BIGINT, text STRING",
            "text", CORPUS_COLUMN_TAGS,
        )

    def reset(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {HISTORY}")
        shutil.rmtree(os.path.join(self.warehouse, HISTORY), ignore_errors=True)
        super().reset()
        shutil.copytree(self.release_dir, self.path("published"))

    def run_pass(self, b: Bench) -> None:
        from dask_felleskomponenter_spark import functions as TX
        from dask_felleskomponenter_spark.functions.text import (
            canonicalize_text, tokens,
        )
        from dask_felleskomponenter_spark.operators import (
            exact_dedup, lsh_candidate_pairs, minhash_signatures,
            ngram_jaccard_pairs,
        )
        from dask_felleskomponenter_spark.operators.graph import (
            assign_components_with_sizes,
        )
        from dask_felleskomponenter_spark.sources import (
            verify_corpus_manifest, write_corpus_manifest,
        )
        from dask_felleskomponenter_spark.governance import Metadata, erase_keys_parquet
        from dask_felleskomponenter_spark.streaming import stream_dedup_ingest
        from dask_felleskomponenter_spark.sync import merge_into_path

        spark, p = self.spark, self.path

        def ingest():
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(self.stream_dir)
            )
            return stream_dedup_ingest(
                stream, "doc_id", "text", HISTORY, p("corpus"), p("ckpt"),
                n_buckets=4,
            )

        def await_stream(q):
            q.awaitTermination(120)
            if q.isActive or q.exception() is not None:
                raise RuntimeError(f"ingest stream did not finish: {q.exception()}")

        b.step("streaming", "stream_dedup_ingest", ingest, await_stream,
               job_groups=lambda q: [str(q.runId)])

        def text_filter():
            docs = spark.read.parquet(p("corpus"))
            ltoks = tokens(F.lower(F.col("text")))
            return (
                docs.withColumn("_toks", tokens("text"))
                .withColumn("_ltoks", ltoks)
                .withColumn("quality", TX.quality_score(
                    "text", toks=F.col("_toks"), ltoks=F.col("_ltoks")))
                .withColumn("lang", TX.language_id("text", ltoks=F.col("_ltoks")))
                .where((F.col("quality") >= 0.7) & (F.col("lang") == "en"))
                .select("doc_id", "text")
            )

        b.step("functions", "quality_language_filter", text_filter,
               lambda df: _write_pq(df, p("filtered")))

        b.step(
            "operators", "exact_dedup",
            lambda: exact_dedup(
                spark.read.parquet(p("filtered")).withColumn(
                    "canon", canonicalize_text("text")),
                "canon", order_by=[F.col("doc_id").asc()],
            ).drop("canon"),
            lambda df: _write_pq(df, p("deduped")),
        )

        def deduped():
            return spark.read.parquet(p("deduped"))

        b.step(
            "operators", "minhash_lsh_candidates",
            lambda: lsh_candidate_pairs(
                minhash_signatures(deduped(), "doc_id", "text", num_hashes=32),
                "doc_id", bands=8, rows_per_band=4,
            ).select("id_a", "id_b"),
            lambda df: _write_pq(df, p("candidates")),
        )

        def verify():
            cands = spark.read.parquet(p("candidates"))
            ids = cands.select(F.col("id_a").alias("doc_id")).union(
                cands.select(F.col("id_b").alias("doc_id"))).distinct()
            docs = deduped().join(ids, "doc_id", "left_semi")
            return ngram_jaccard_pairs(
                docs, "doc_id", "text", shingle_size=3, threshold=JACCARD_T
            ).join(cands, ["id_a", "id_b"], "left_semi")

        b.step("operators", "ngram_jaccard_verify", verify,
               lambda df: _write_pq(df, p("pairs")))

        b.step(
            "operators", "assign_components_with_sizes",
            lambda: assign_components_with_sizes(
                deduped().select("doc_id"), "doc_id",
                spark.read.parquet(p("pairs")), pre_canonical=True,
            ),
            lambda df: _write_pq(df, p("clusters")),
        )

        def export():
            reps = (
                spark.read.parquet(p("clusters"))
                .where(F.col("doc_id") == F.col("component"))
                .join(deduped(), "doc_id")
            )
            _write_pq(reps, p("final"))
            return write_corpus_manifest(spark, p("final"))

        def verify_manifest(_manifest):
            got = verify_corpus_manifest(spark, p("final"))
            if not got["ok"]:
                raise RuntimeError(f"manifest does not verify: {got}")
            return got

        b.step("sources", "corpus_manifest", export, verify_manifest)

        # publish: upsert the release into the published corpus, check its
        # governance metadata, then erase the subjects that asked for it
        self.published_rows = b.step(
            "sync", "merge_into_path",
            lambda: merge_into_path(
                p("published"),
                spark.read.parquet(p("final")).withColumn("update_type", F.lit("upsert")),
                ["doc_id"],
            ),
            lambda df: df.count(),
        )
        meta = Metadata("spark_catalog", "corpus", "published", spark=spark)
        self.column_meta = b.step("governance", "validate_metadata",
                                  meta.validate, _validated(meta))
        self.erase_report = b.step(
            "governance", "erase_keys_parquet",
            lambda: erase_keys_parquet(p("published"), "doc_id", self.corpus.erase_ids),
        )

    def check(self, b: Bench) -> dict[str, list[str]]:
        c, p = self.corpus, self.path
        checked, wrong = [], []

        def expect(name: str, ok: bool) -> None:
            checked.append(name)
            if not ok:
                wrong.append(name)

        con = duckdb.connect()
        n_distinct = con.execute(
            f"SELECT count(DISTINCT text) FROM '{self.stream_dir}/*.parquet'"
        ).fetchone()[0]
        corpus = _read(p("corpus"))
        texts = corpus.column("text").to_pylist()
        expect("stream_dedup_ingest",
               len(texts) == n_distinct == len(set(texts)))

        kept_ids = set(corpus.column("doc_id").to_pylist()) - c.junk_ids
        filtered = _read(p("filtered"))
        expect("quality_language_filter",
               set(filtered.column("doc_id").to_pylist()) == kept_ids)

        want = {r[0] for r in con.execute(
            f"SELECT min(doc_id) FROM '{p('filtered')}/*.parquet' "
            "GROUP BY lower(text)").fetchall()}
        dd = _read(p("deduped"))
        dd_ids = dd.column("doc_id").to_pylist()
        expect("exact_dedup", sorted(dd_ids) == sorted(want))
        con.close()

        text_of = dict(zip(dd_ids, dd.column("text").to_pylist()))
        shingles = {}
        for i, t in text_of.items():
            w = t.split()
            shingles[i] = {tuple(w[k:k + 3]) for k in range(len(w) - 2)}
        cands = _pairs(_read(p("candidates")))
        verified = _pairs(_read(p("pairs")))
        ref = set()
        for a, bb in cands:
            sa, sb = shingles[a], shingles[bb]
            if len(sa & sb) / len(sa | sb) >= JACCARD_T:
                ref.add((a, bb))
        expect("minhash_lsh_candidates",
               all(a < bb and a in text_of and bb in text_of for a, bb in cands))
        expect("ngram_jaccard_verify", verified == ref)
        b.count("candidate_pairs", len(cands))
        b.count("verified_pairs", len(verified))

        parent = {i: i for i in dd_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, bb in ref:
            ra, rb = find(a), find(bb)
            parent[max(ra, rb)] = min(ra, rb)
        comp = {i: find(i) for i in dd_ids}
        size = defaultdict(int)
        for v in comp.values():
            size[v] += 1
        cl = _read(p("clusters")).to_pydict()
        got = {
            i: (cc, s) for i, cc, s in
            zip(cl["doc_id"], cl["component"], cl["cluster_size"])
        }
        expect("assign_components_with_sizes",
               got == {i: (comp[i], size[comp[i]]) for i in dd_ids})

        final = _read(p("final"))
        final_ids = final.column("doc_id").to_pylist()
        expect("corpus_manifest", sorted(final_ids) == sorted(set(comp.values())))

        expect("validate_metadata",
               _column_tags(self.column_meta) == {("text", k): v for k, v in CORPUS_COLUMN_TAGS.items()})
        con = duckdb.connect()
        cols = "doc_id, component, cluster_size, text"
        erase = ",".join(str(k) for k in c.erase_ids)
        want_pub = con.execute(
            f"SELECT {cols} FROM (SELECT {cols} FROM '{p('final')}/*.parquet' "
            f"UNION ALL SELECT {cols} FROM '{self.release_dir}/*.parquet' "
            f"WHERE doc_id NOT IN (SELECT doc_id FROM '{p('final')}/*.parquet')) "
            f"WHERE doc_id NOT IN ({erase}) ORDER BY doc_id"
        ).fetchall()
        con.close()
        pub = _read(p("published")).sort_by("doc_id")
        got_pub = list(zip(*(pub.column(x.strip()).to_pylist() for x in cols.split(","))))
        expect("merge_into_path", got_pub == want_pub)
        rep = self.erase_report
        expect("erase_keys_parquet", rep["rows_deleted"] == len(c.erase_ids))
        b.count("files_rewritten", rep["files_rewritten"])
        b.count("files_scanned", rep["files_total"])
        b.count("rows_changed", len(final_ids))
        b.count("rows_rewritten", self.published_rows)
        self._live = _compact_bytes(pub, os.path.join(self.run_dir, "live.parquet"))
        return {"checked": checked, "wrong": wrong}

    def changed_bytes(self) -> int:
        return self.in_bytes

    def live_bytes(self) -> int:
        return self._live


def _pairs(t: pa.Table) -> set[tuple[int, int]]:
    return set(zip(t.column("id_a").to_pylist(), t.column("id_b").to_pylist()))


# ---------------------------------------------------------------------------

CONTOUR_INTERVAL = 20.0
GOV_COLUMN = {"epsg": "25833", "geometri_encoding": "wkb"}


class GeoPublish(Workload):
    def prepare(self) -> None:
        self.geo = datagen.geo_inputs(self.seed)
        os.makedirs(self.input_dir, exist_ok=True)
        self.geoms_path = os.path.join(self.input_dir, "geoms.parquet")
        self.tiles_path = os.path.join(self.input_dir, "tiles.parquet")
        pq.write_table(self.geo.geoms, self.geoms_path)
        pq.write_table(self.geo.tiles, self.tiles_path)
        self.input_rows = self.geo.geoms.num_rows + self.geo.tiles.num_rows

        register_governed_table(
            self.spark, "geo", "published",
            "geom_id BIGINT, kommune INT, gtype STRING, wkb BINARY, "
            "inside BOOLEAN, x DOUBLE, y DOUBLE",
            "wkb", GOV_COLUMN,
        )

    def run_pass(self, b: Bench) -> None:
        from dask_felleskomponenter_spark.functions.raster import generate_contours_udf
        from dask_felleskomponenter_spark.functions.wkb import (
            curved_to_linear_wkb, get_wkb_geom_type, point_in_polygon,
            strip_ewkb_srid,
        )
        from dask_felleskomponenter_spark.governance import Metadata, erase_keys_parquet
        from dask_felleskomponenter_spark.sync import (
            merge_into_path, refresh_incremental_summary,
        )

        spark, p = self.spark, self.path
        b.step(
            "functions", "wkb_udfs",
            lambda: spark.read.parquet(self.geoms_path).select(
                "geom_id", "batch", "update_type", "kommune",
                get_wkb_geom_type("wkb").alias("gtype"),
                curved_to_linear_wkb(strip_ewkb_srid("wkb"), F.lit(0.0)).alias("wkb"),
                point_in_polygon("poly", "x", "y").alias("inside"),
                "x", "y",
            ),
            lambda df: _write_pq(df, p("staged")),
        )
        b.step(
            "functions", "raster_contours",
            lambda: spark.read.parquet(self.tiles_path).select(
                "tile_id",
                generate_contours_udf(
                    "raster", F.lit(CONTOUR_INTERVAL), F.lit(0.0)
                ).alias("contours"),
            ),
            lambda df: _write_pq(df, p("contours")),
        )

        meta = Metadata("spark_catalog", "geo", "published", spark=spark)
        self.column_meta = b.step("governance", "validate_metadata",
                                  meta.validate, _validated(meta))

        staged = spark.read.parquet(p("staged"))
        self.published_rows = []
        for k in range(self.geo.n_batches):
            batch = staged.where(F.col("batch") == k).drop("batch")
            n = b.step(
                "sync", f"merge_into_path_{k}",
                lambda batch=batch: merge_into_path(p("published"), batch, ["geom_id"]),
                lambda df: df.count(),
            )
            self.published_rows.append(n)
            b.step(
                "sync", f"refresh_incremental_summary_{k}",
                lambda batch=batch: refresh_incremental_summary(
                    spark, p("summary"),
                    batch.where(F.col("update_type") != "delete").withColumn("n", F.lit(1)),
                    ["kommune", "gtype"], ["n"],
                ),
                lambda df: df.count(),
            )
        self.erase_report = b.step(
            "governance", "erase_keys_parquet",
            lambda: erase_keys_parquet(p("published"), "geom_id", self.geo.erase_keys),
        )

    def check(self, b: Bench) -> dict[str, list[str]]:
        from dask_felleskomponenter_spark.functions.raster import generate_contours_py
        from dask_felleskomponenter_spark.functions.wkb import (
            geom_type_of_wkb, linearize_wkb_py, point_in_polygon_bytes,
        )

        p = self.path
        checked, wrong = [], []

        def expect(name: str, ok: bool) -> None:
            checked.append(name)
            if not ok:
                wrong.append(name)

        src = self.geo.geoms.to_pydict()
        want = {
            (g, bt): (geom_type_of_wkb(w), linearize_wkb_py(w, 0.0),
                      point_in_polygon_bytes(pl, x, y))
            for g, bt, w, pl, x, y in zip(
                src["geom_id"], src["batch"], src["wkb"], src["poly"],
                src["x"], src["y"])
        }
        st = _read(p("staged")).to_pydict()
        got = {
            (g, bt): (t, w, i) for g, bt, t, w, i in zip(
                st["geom_id"], st["batch"], st["gtype"], st["wkb"], st["inside"])
        }
        expect("wkb_udfs", got == want)

        tiles = self.geo.tiles.to_pydict()
        want_c = {
            t: generate_contours_py(r, CONTOUR_INTERVAL, 0.0)
            for t, r in zip(tiles["tile_id"], tiles["raster"])
        }
        ct = _read(p("contours")).to_pydict()
        expect("raster_contours", dict(zip(ct["tile_id"], ct["contours"])) == want_c)

        expect("validate_metadata",
               _column_tags(self.column_meta) == {("wkb", k): v for k, v in GOV_COLUMN.items()})

        con = duckdb.connect()
        staged = f"'{p('staged')}/*.parquet'"
        erase = ",".join(str(k) for k in self.geo.erase_keys)
        cols = "geom_id, kommune, gtype, wkb, inside, x, y"
        final_ref = con.execute(
            f"SELECT {cols} FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY geom_id ORDER BY batch DESC) AS rn FROM {staged}) "
            f"WHERE rn = 1 AND update_type <> 'delete' "
            f"AND geom_id NOT IN ({erase}) ORDER BY geom_id"
        ).fetchall()
        pub = _read(p("published")).sort_by("geom_id").to_pydict()
        final = list(zip(*(pub[c.strip()] for c in cols.split(","))))
        expect("merge_into_path", final == final_ref)

        sums_ref = dict(((k, g), n) for k, g, n in con.execute(
            f"SELECT kommune, gtype, count(*) FROM {staged} "
            "WHERE update_type <> 'delete' GROUP BY 1, 2").fetchall())
        sm = _read(p("summary")).to_pydict()
        expect("refresh_incremental_summary",
               dict(zip(zip(sm["kommune"], sm["gtype"]), sm["n"])) == sums_ref)
        con.close()

        rep = self.erase_report
        expect("erase_keys_parquet", rep["rows_deleted"] == len(self.geo.erase_keys))
        b.count("files_rewritten", rep["files_rewritten"])
        b.count("files_scanned", rep["files_total"])
        counts = self.geo.geoms.group_by("batch").aggregate([("geom_id", "count")])
        b.count("rows_changed", sum(counts.column("geom_id_count").to_pylist()))
        b.count("rows_rewritten", sum(self.published_rows))
        pub_tbl = _read(p("published"))
        self._live = _compact_bytes(pub_tbl, os.path.join(self.run_dir, "live.parquet"))
        return {"checked": checked, "wrong": wrong}

    def changed_bytes(self) -> int:
        return os.path.getsize(self.geoms_path)

    def live_bytes(self) -> int:
        return self._live


WORKLOADS = {
    "sql_analytics": SqlAnalytics,
    "corpus_dedup": CorpusDedup,
    "geo_publish": GeoPublish,
}
