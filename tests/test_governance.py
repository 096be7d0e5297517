"""Governance pack tests: golden fixture parity with the reference's
``tests/test_table_validation.py`` + negative variants (FIXTURES.md §3)
+ the open TBLPROPERTIES metadata backend end-to-end."""

from __future__ import annotations

import json
import os

import pytest

from dask_felleskomponenter_spark.governance import (
    CodelistEntry,
    CodelistRegistry,
    Metadata,
    TableMetadata,
    TblPropertiesMetadataStore,
    get_mandatory_metadata_for_medaljongnivaa,
    validate_table,
)

# Verbatim shape of the reference's golden fixture
# (/root/reference/example_table_metadata_gold.json, FIXTURES.md §3).
GOLD = {
    "catalog": "catalog",
    "schema": "schema",
    "table": "table",
    "tittel": "tittel",
    "beskrivelse": "beskrivelse",
    "tilgangsnivaa": "http://publications.europa.eu/resource/authority/access-right/PUBLIC",
    "medaljongnivaa": "gold",
    "hovedkategori": "https://register.geonorge.no/metadata-kodelister/tematisk-hovedkategori/farming",
    "begrep": "https://register.geonorge.no/metadata-kodelister/nasjonal-temainndeling/Samfunnssikkerhet",
    "epsg_koder": "25835",
    "emneord": "bruksomraade",
    "sikkerhetsnivaa": "https://register.geonorge.no/metadata-kodelister/sikkerhetsnivaa/unclassified_sensitive",
    "column_properties": {
        "geometri": {"epsg": "25835", "geometri_encoding": "wkt"}
    },
}


def test_gold_fixture_validates_clean():
    md = TableMetadata(**GOLD)
    assert validate_table(md) == []


def test_gold_fixture_with_extra_optional_param_still_clean():
    # mutation case from the reference's unit test: adding an optional
    # field must still pass, landing in optional_params
    data = {**GOLD, "ekstra_felt": "valgfritt"}
    md = TableMetadata(**data)
    assert md.optional_params == {"ekstra_felt": "valgfritt"}
    assert validate_table(md) == []


def test_delta_keys_are_dropped():
    md = TableMetadata(**GOLD, **{"delta.minReaderVersion": "2"})
    assert "delta.minReaderVersion" not in md.optional_params


def test_optional_params_kwarg_is_preserved():
    """An explicit optional_params kwarg must seed the bag (it used to
    be silently dropped), with absorbed unknown keys layered on top."""
    md = TableMetadata(**GOLD, optional_params={"a": "1"}, extra_tag="x")
    assert md.optional_params["a"] == "1"
    assert md.optional_params["extra_tag"] == "x"
    import pytest as _pytest

    with _pytest.raises(TypeError, match="optional_params"):
        TableMetadata(**GOLD, optional_params="not-a-dict")


def test_medallion_registry_override_is_honored():
    """A constructor override for 'medaljongnivaa' must win over the
    built-in list in BOTH the registry lookup and the gate check (the
    old special-case short-circuit ignored it silently)."""
    from dask_felleskomponenter_spark.governance.codelists import (
        CodelistRegistry,
    )

    reg = CodelistRegistry(overrides={"medaljongnivaa": ["iron", "steel"]})
    assert reg.get("medaljongnivaa") == ["iron", "steel"]
    md = TableMetadata(**{**GOLD, "medaljongnivaa": "iron"})
    errors = [
        e for e in validate_table(md, reg) if e.for_field == "medaljongnivaa"
    ]
    assert errors == [], "override level must validate clean"
    md2 = TableMetadata(**GOLD)  # gold is NOT in the override list
    errors2 = [
        e for e in validate_table(md2, reg) if e.for_field == "medaljongnivaa"
    ]
    assert len(errors2) == 1


def test_invalid_medallion_gates_early():
    md = TableMetadata(**{**GOLD, "medaljongnivaa": "platinum"})
    errors = validate_table(md)
    assert len(errors) == 1
    assert errors[0].for_field == "medaljongnivaa"
    assert "er ugyldig" in errors[0].description


@pytest.mark.parametrize(
    "level,missing_field",
    [
        ("bronze", "tittel"),
        ("bronze", "beskrivelse"),
        ("bronze", "sikkerhetsnivaa"),
        ("silver", "emneord"),
        ("silver", "begrep"),
        ("gold", "hovedkategori"),
        ("gold", "tilgangsnivaa"),
    ],
)
def test_missing_mandatory_field_reported(level, missing_field):
    data = {**GOLD, "medaljongnivaa": level}
    data[missing_field] = None
    errors = validate_table(TableMetadata(**data))
    assert [e.for_field for e in errors] == [missing_field]
    assert "mangler" in errors[0].description
    # remedies are executable SQL strings
    sol = errors[0].solution
    assert sol.startswith("COMMENT ON TABLE" if missing_field == "beskrivelse" else "ALTER TABLE")


def test_invalid_codelist_value_reported():
    data = {**GOLD, "sikkerhetsnivaa": "not-a-valid-uri"}
    errors = validate_table(TableMetadata(**data))
    assert [e.for_field for e in errors] == ["sikkerhetsnivaa"]
    assert "er ugyldig" in errors[0].description


def test_invalid_geometri_encoding_reported():
    data = {
        **GOLD,
        "column_properties": {"geom": {"epsg": "25835", "geometri_encoding": "shapefile"}},
    }
    errors = validate_table(TableMetadata(**data))
    assert [(e.for_field, e.column) for e in errors] == [("geometri_encoding", "geom")]
    assert "columns.geom.geometri_encoding" in errors[0].solution


def test_geometri_encoding_case_insensitive_and_epsg_gated():
    ok = {
        **GOLD,
        "column_properties": {
            "g1": {"epsg": "4326", "geometri_encoding": "WkB"},
            "g2": {"geometri_encoding": "not-checked-without-epsg"},
        },
    }
    assert validate_table(TableMetadata(**ok)) == []


def test_mandatory_metadata_introspection():
    bronze = get_mandatory_metadata_for_medaljongnivaa("bronze")
    assert set(bronze) == {"tittel", "beskrivelse", "sikkerhetsnivaa"}
    silver = get_mandatory_metadata_for_medaljongnivaa("silver")
    assert set(silver) == {"tittel", "beskrivelse", "emneord", "begrep", "sikkerhetsnivaa"}
    gold = get_mandatory_metadata_for_medaljongnivaa("gold")
    assert set(gold) == {
        "tittel", "beskrivelse", "hovedkategori", "emneord",
        "begrep", "tilgangsnivaa", "sikkerhetsnivaa",
    }


def test_mandatory_metadata_custom_level_falls_back_to_gold():
    """A registry-custom medallion level must enumerate the same chain
    validate_table runs for it (the gold fallback), not KeyError — the
    two entry points agreeing is the round-6 review fix."""
    reg = CodelistRegistry(
        overrides={"medaljongnivaa": ["bronze", "silver", "gold", "platinum"]}
    )
    plat = get_mandatory_metadata_for_medaljongnivaa("platinum", registry=reg)
    gold = get_mandatory_metadata_for_medaljongnivaa("gold", registry=reg)
    assert set(plat) == set(gold)


def test_tag_containing_delta_substring_is_preserved():
    """Only keys STARTING WITH 'delta.' are engine-internal; a user tag
    merely containing the substring must survive absorption (round-6
    review fix: substring test silently dropped 'pre_delta.note')."""
    md = TableMetadata(**GOLD, **{"pre_delta.note": "x"})
    assert md.optional_params == {"pre_delta.note": "x"}
    md2 = TableMetadata(**GOLD, **{"delta.minReaderVersion": "2"})
    assert md2.optional_params == {}


def test_codelist_entry_asymmetric_equality():
    e = CodelistEntry(id="urn:x", label="X")
    assert e == "urn:x"
    assert not (e == "X")  # label never matches
    assert e == CodelistEntry(id="urn:x", label="other")
    assert not (e == 42)


def test_remote_registry_injectable():
    # hovedkategori is remote-backed; with a loader, membership is strict
    loader_calls = []

    def fake_loader(url):
        loader_calls.append(url)
        if "tematisk-hovedkategori" in url:
            return {"containeditems": [{"id": "urn:cat/ok", "label": "OK"}]}
        # begrep list: include the gold fixture's value so only
        # hovedkategori misbehaves in this test
        return {"containeditems": [{"id": GOLD["begrep"], "label": "B"}]}

    reg = CodelistRegistry(remote_loader=fake_loader)
    data = {**GOLD, "hovedkategori": "urn:cat/nope"}
    errors = validate_table(TableMetadata(**data), reg)
    assert [e.for_field for e in errors] == ["hovedkategori"]
    assert loader_calls  # loader actually consulted
    ok = {**GOLD, "hovedkategori": "urn:cat/ok"}
    assert validate_table(TableMetadata(**ok), reg) == []


def test_tblproperties_store_roundtrip(spark, tmp_path):
    import shutil

    spark.sql("CREATE DATABASE IF NOT EXISTS gov_test")
    spark.sql("DROP TABLE IF EXISTS gov_test.t1")
    # a previous interrupted run can leave the managed-table location on
    # disk while the (ephemeral derby) catalog forgot it
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/gov_test.db/t1", ignore_errors=True)
    spark.createDataFrame([(1, "x")], ["id", "geometri"]).write.mode(
        "overwrite"
    ).saveAsTable("gov_test.t1")

    store = TblPropertiesMetadataStore(spark)
    tags = {k: v for k, v in GOLD.items() if k not in (
        "catalog", "schema", "table", "beskrivelse", "column_properties")}
    store.set_tags("gov_test", "t1", tags)
    store.set_comment("gov_test", "t1", GOLD["beskrivelse"])
    store.set_column_properties(
        "gov_test", "t1", "geometri", GOLD["column_properties"]["geometri"]
    )

    meta = Metadata("spark_catalog", "gov_test", "t1", spark=spark, store=store)
    md = meta.get_table_metadata()
    assert md.tittel == "tittel"
    assert md.beskrivelse == "beskrivelse"
    assert md.column_properties == {"geometri": {"epsg": "25835", "geometri_encoding": "wkt"}}
    assert meta.validate() == []
    assert meta.validate_as_df().count() == 0

    # break one tag, see the finding surface through the DataFrame API
    store.set_tags("gov_test", "t1", {"sikkerhetsnivaa": "bogus"})
    df = meta.validate_as_df()
    rows = df.collect()
    assert [r["for_field"] for r in rows] == ["sikkerhetsnivaa"]

    # column metadata join surface (J1 shape)
    cm = meta.get_table_column_metadata()
    got = {(r["column_name"], r["tag_name"]): r["tag_value"] for r in cm.collect()}
    assert got[("geometri", "epsg")] == "25835"
    assert got[("geometri", "geometri_encoding")] == "wkt"

    # the catalog argument participates in resolution: a nonexistent
    # catalog must error, not silently read the current catalog's table
    import pytest as _pytest

    with _pytest.raises(Exception, match="no_such_cat|not found|NoSuch"):
        store.get_table_metadata("no_such_cat", "gov_test", "t1")
    assert ("id", None) in {(r["column_name"], r["tag_name"]) for r in cm.collect()}


def test_errors_to_df_materializes_findings(spark):
    from dask_felleskomponenter_spark.governance import (
        CodelistEntry,
        MetadataError,
        errors_to_df,
    )

    errors = [
        MetadataError("c", "s", "t", None, "missing tittel",
                      "ALTER TABLE c.s.t SET TAGS ('tittel' = '<val>')",
                      "tittel", "any string"),
        MetadataError("c", "s", "t", "geom", "bad encoding", None,
                      "geometri_encoding",
                      [CodelistEntry("wkb"), CodelistEntry("wkt")]),
    ]
    df = errors_to_df(spark, errors)
    rows = {r["for_field"]: r for r in df.collect()}
    assert rows["tittel"]["valid_values"] == "any string"
    assert "wkb" in rows["geometri_encoding"]["valid_values"]
    assert rows["geometri_encoding"]["column"] == "geom"
    # empty finding lists still yield a typed, writable frame
    assert errors_to_df(spark, []).count() == 0


class TestPiiDataScan:
    def test_redact_pii_round_trip(self, spark):
        from dask_felleskomponenter_spark.functions.text import redact_pii

        df = spark.createDataFrame(
            [("reach a@b.com or +47-555-1234-999 thanks",)], "t string"
        )
        out = df.select(redact_pii("t").alias("r")).first()["r"]
        assert "[EMAIL]" in out and "[PHONE]" in out
        assert "@" not in out

    def test_dates_and_timestamps_are_not_phones(self, spark):
        """Round-7 review finding: the old 9-char digit/hyphen phone
        regex matched every ISO date (8 digits), so redact_pii corrupted
        dates/timestamps to [PHONE] and the phone count reported false
        positives corpus-wide. Nine DIGITS is the floor now. The count
        is the exact expression pii_redact_profile reports as
        n_phones."""
        from pyspark.sql import functions as F

        from dask_felleskomponenter_spark.functions.text import (
            PII_PHONE_PATTERN,
            redact_pii,
        )

        df = spark.createDataFrame(
            [
                ("meeting on 2024-01-15 at noon", 0),
                ("logged 2024-01-15 10:30:59 exactly", 0),
                ("order 20240115 shipped", 0),  # 8-digit compact date
                ("call +1-555-123-4567 now", 1),  # 11-digit NANP
                ("id 123456789 matched", 1),  # 9+ digit run: documented FP
            ],
            "t string, want int",
        )
        rows = df.select(
            "t", "want",
            F.regexp_count(F.col("t"), F.lit(PII_PHONE_PATTERN)).alias("n"),
            redact_pii("t").alias("r"),
        ).collect()
        for r in rows:
            assert r["n"] == r["want"], (r["t"], r["n"])
            if r["want"] == 0:
                assert "[PHONE]" not in r["r"], r["r"]

    def test_null_text_counts_and_scores_are_ansi_invariant(self, spark):
        """Round-7 review finding: size(split(NULL)) is NULL under ANSI
        (Spark 4 default) and -1 with ANSI off, so a NULL document once
        scored 0.7 'quality' (above the near-dup keep threshold) under
        one config and 0.3 under the other. tokens() now floors NULL to
        an empty array: identical counts/scores in BOTH modes, and NULL
        never outscores real text."""
        from dask_felleskomponenter_spark.functions.text import (
            bpe_ish_token_count,
            quality_score,
            token_count,
        )

        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, "   ")], "id int, t string"
        )
        prev = spark.conf.get("spark.sql.ansi.enabled")
        got = {}
        try:
            for mode in ("true", "false"):
                spark.conf.set("spark.sql.ansi.enabled", mode)
                got[mode] = {
                    r["id"]: (r["n"], r["b"], r["q"])
                    for r in df.select(
                        "id",
                        token_count("t").alias("n"),
                        bpe_ish_token_count("t").alias("b"),
                        quality_score("t").alias("q"),
                    ).collect()
                }
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)
        assert got["true"] == got["false"], got
        for _id, (n, b, q) in got["true"].items():
            assert n == 0 and b == 0, got["true"]
            assert q is not None and q < 0.7, got["true"]
        # NULL scores exactly like empty text (one documented value)
        assert got["true"][1] == got["true"][2]


class TestErasure:
    def test_rewrite_tmp_is_hidden_and_stale_residue_reaped(
        self, spark, tmp_path
    ):
        """The rewrite temp file must be invisible to Spark (dot-prefix)
        and any crash residue — including the pre-round-6 visible name —
        must be reaped on the next run, or a crashed erasure duplicates
        or resurrects the very rows it deleted (round-6 review
        finding)."""
        import glob as _glob
        import shutil

        from dask_felleskomponenter_spark.governance.erasure import (
            erase_keys_parquet,
        )

        path = str(tmp_path / "t")
        spark.range(100).selectExpr("id as subject_id", "id * 2 as v").coalesce(
            1
        ).write.parquet(path)
        data_file = _glob.glob(path + "/part-*.parquet")[0]
        # simulate a crash mid-rewrite under the OLD visible tmp name: a
        # complete copy of the data file left beside it
        stale = data_file + ".rewrite.tmp"
        shutil.copyfile(data_file, stale)
        assert spark.read.parquet(path).count() == 200  # the hazard itself

        report = erase_keys_parquet(path, "subject_id", [5])
        assert not os.path.exists(stale)
        assert report["rows_deleted"] == 1
        # no tmp residue of any kind survives a successful run
        leftovers = [
            f
            for f in os.listdir(path)
            if f.endswith(".rewrite.tmp")
        ]
        assert leftovers == []
        assert spark.read.parquet(path).count() == 99

    def test_erase_touches_only_files_containing_subjects(self, spark, tmp_path):
        import glob as _glob
        import hashlib

        from pyspark.sql import functions as F

        from dask_felleskomponenter_spark.governance.erasure import (
            erase_keys_parquet,
        )
        from dask_felleskomponenter_spark.sources.tables import (
            write_sorted_shards,
        )

        path = str(tmp_path / "subjects")
        df = spark.range(10_000).select(
            F.col("id").alias("subject_id"), F.xxhash64("id").alias("payload")
        )
        # key-sorted shard layout: file stats partition the key space
        write_sorted_shards(df, path, "subject_id", n_shards=8, sort_cols=["subject_id"])

        def digests():
            return {
                f: hashlib.md5(open(f, "rb").read()).hexdigest()
                for f in _glob.glob(path + "/part-*.parquet")
            }

        before = digests()
        # subjects clustered in one shard's key range
        report = erase_keys_parquet(path, "subject_id", [100, 101, 205])
        after = digests()

        assert report["rows_deleted"] == 3
        assert 1 <= report["files_rewritten"] <= 2
        changed = {f for f in before if before[f] != after.get(f)}
        assert len(changed) == report["files_rewritten"]
        # the rest of the store is byte-identical — the pruning contract
        assert all(before[f] == after[f] for f in before if f not in changed)

        out = spark.read.parquet(path)
        assert out.count() == 10_000 - 3
        assert out.filter(F.col("subject_id").isin(100, 101, 205)).count() == 0

    def test_erase_streams_batches_and_drops_stale_summary_files(
        self, spark, tmp_path
    ):
        # multi-row-group file (several batches streamed, not one big
        # table) + parquet summary sidecars that would advertise stale
        # stats after the rewrite
        import os as _os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from dask_felleskomponenter_spark.governance.erasure import (
            erase_keys_parquet,
        )

        path = str(tmp_path / "s3")
        _os.makedirs(path)
        n = 200_000  # > one 64k iter batch → several streamed batches
        tbl = pa.table(
            {
                "subject_id": pa.array(range(n), pa.int64()),
                "payload": pa.array([i * 7 for i in range(n)], pa.int64()),
            }
        )
        pq.write_table(tbl, f"{path}/part-0.parquet", row_group_size=50_000)
        for side in ("_metadata", "_common_metadata"):
            with open(f"{path}/{side}", "wb") as fh:
                fh.write(b"stale")

        report = erase_keys_parquet(path, "subject_id", [3, n - 1, 2500])
        assert report["rows_deleted"] == 3 and report["files_rewritten"] == 1
        assert not _os.path.exists(f"{path}/_metadata")
        assert not _os.path.exists(f"{path}/_common_metadata")
        out = spark.read.parquet(path)
        assert out.count() == n - 3
        # row-group structure from streaming: still multiple groups
        assert pq.read_metadata(f"{path}/part-0.parquet").num_row_groups > 1

    def test_erase_absent_keys_rewrites_nothing(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dask_felleskomponenter_spark.governance.erasure import (
            erase_keys_parquet,
        )

        path = str(tmp_path / "s2")
        spark.range(100).select(F.col("id").alias("subject_id")).write.parquet(path)
        report = erase_keys_parquet(path, "subject_id", [10_000, 20_000])
        assert report["files_rewritten"] == 0 and report["rows_deleted"] == 0
        assert erase_keys_parquet(path, "subject_id", [])["files_total"] == 0


def test_tblproperty_colliding_with_ctor_args_does_not_crash(spark):
    """Regression: a plain TBLPROPERTY named like a constructor argument
    ('beskrivelse' is the natural way users set the description) raised
    'got multiple values for keyword argument'."""
    from dask_felleskomponenter_spark.governance.store import (
        TblPropertiesMetadataStore,
    )

    store = TblPropertiesMetadataStore(spark)
    tbl = "gov_collide_props"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"CREATE TABLE {tbl} (id INT) USING parquet")
    try:
        spark.sql(
            f"ALTER TABLE {tbl} SET TBLPROPERTIES "
            "('beskrivelse'='set as tag', 'tittel'='T', 'table'='weird')"
        )
        md = store.get_table_metadata("spark_catalog", "default", tbl)
        assert md.tittel == "T"
        assert md.optional_params.get("tag.beskrivelse") == "set as tag"
        assert md.optional_params.get("tag.table") == "weird"
    finally:
        spark.sql(f"DROP TABLE {tbl}")


def test_geometri_encoding_none_value_reports_not_crashes():
    from dask_felleskomponenter_spark.governance.checks import (
        check_geometri_encoding,
    )
    from dask_felleskomponenter_spark.governance.model import TableMetadata

    md = TableMetadata(
        catalog="c", schema="s", table="t",
        medaljongnivaa="gull",
        column_properties={"geom": {"epsg": "4326", "geometri_encoding": None}},
    )
    errs = check_geometri_encoding(md, [])
    assert any(e.for_field == "geometri_encoding" for e in errs)


def test_erasure_prunes_by_individual_keys(spark, tmp_path):
    """Regression: pruning used the [min, max] envelope of the subject
    keys, so subjects at both ends of a sorted table rewrote EVERY
    file; per-key row-group overlap must leave the middle file alone."""
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.governance.erasure import (
        erase_keys_parquet,
    )

    path = str(tmp_path / "t")
    spark.range(300).select(F.col("id").alias("k")).repartitionByRange(
        3, "k"
    ).sortWithinPartitions("k").write.parquet(path)
    stats = erase_keys_parquet(path, "k", [0, 299])
    assert stats["rows_deleted"] == 2
    assert stats["files_rewritten"] == 2, stats  # middle file untouched


def test_column_properties_survive_dotted_column_names(spark, tmp_path):
    """Round-7 review finding: 'columns.<col>.<prop>' used to split on
    the FIRST dot, so a column named 'a.b' had its tags misattributed
    to a column 'a' (and they vanished from the column-metadata join).
    The property is the LAST dot-segment; both read paths share one
    parser so the two views can never disagree."""
    import shutil

    from dask_felleskomponenter_spark.governance.store import (
        TblPropertiesMetadataStore,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS gov_test")
    spark.sql("DROP TABLE IF EXISTS gov_test.t_dotted")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/gov_test.db/t_dotted", ignore_errors=True)
    spark.createDataFrame([(1, "x")], ["id", "geo.lat"]).write.mode(
        "overwrite"
    ).saveAsTable("gov_test.t_dotted")

    store = TblPropertiesMetadataStore(spark)
    store.set_column_properties(
        "gov_test", "t_dotted", "geo.lat", {"geometri_encoding": "wkt"}
    )
    md = store.get_table_metadata("spark_catalog", "gov_test", "t_dotted")
    assert md.column_properties == {"geo.lat": {"geometri_encoding": "wkt"}}

    cm = store.get_table_column_metadata("spark_catalog", "gov_test", "t_dotted")
    got = {
        (r["column_name"], r["tag_name"]): r["tag_value"]
        for r in cm.collect()
        if r["tag_name"] is not None
    }
    assert got == {("geo.lat", "geometri_encoding"): "wkt"}


def test_dotted_property_name_rejected_at_write_time(spark):
    """The read side takes the LAST dot-segment as the property name so
    dotted COLUMN names parse; that is only an invariant if property
    names are dot-free. A key like 'tags.pii' on column 'a' would
    round-trip as property 'pii' on a phantom column 'a.tags' and
    silently vanish from column 'a' — reject it at write time instead."""
    import pytest as _pytest

    from dask_felleskomponenter_spark.governance.store import (
        TblPropertiesMetadataStore,
    )

    store = TblPropertiesMetadataStore(spark)
    with _pytest.raises(ValueError, match="dot-free"):
        store.set_column_properties(
            "gov_test", "t_any", "a", {"tags.pii": "true"}
        )


def test_erasure_resolves_top_level_key_not_nested_leaf(spark, tmp_path):
    """Round-8 review finding (reproduced): md.schema.names is the
    FLATTENED leaf list, so a nested struct field with the same leaf
    name ('s.k' before top-level 'k') misresolved the statistics column
    — pruning against the wrong stats silently left subject rows on
    disk with a clean report."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_felleskomponenter_spark.governance.erasure import (
        erase_keys_parquet,
    )

    path = str(tmp_path / "nested")
    os.makedirs(path)
    # struct column FIRST so its leaf 'k' precedes the top-level 'k'
    table = pa.table(
        {
            "s": pa.array([{"k": 500 + i} for i in range(10)]),
            "k": pa.array(list(range(10)), type=pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    report = erase_keys_parquet(path, "k", [1, 7])
    assert report["rows_deleted"] == 2, report
    got = sorted(pq.read_table(os.path.join(path, "part-0.parquet"))["k"].to_pylist())
    assert got == [0, 2, 3, 4, 5, 6, 8, 9]


def test_erasure_rejects_struct_key_and_missing_path(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from dask_felleskomponenter_spark.governance.erasure import (
        erase_keys_parquet,
    )

    # a missing path must raise, never report all-zero success
    with _pytest.raises(FileNotFoundError):
        erase_keys_parquet(str(tmp_path / "nope"), "k", [1])

    # a top-level STRUCT key has no leaf path equal to its name —
    # loud error, not a silent wrong-column prune
    path = str(tmp_path / "structkey")
    os.makedirs(path)
    pq.write_table(
        pa.table({"s": pa.array([{"k": i} for i in range(5)])}),
        os.path.join(path, "part-0.parquet"),
    )
    with _pytest.raises(ValueError, match="top-level primitive"):
        erase_keys_parquet(path, "s", [1])


def test_erasure_accepts_single_file_path(spark, tmp_path):
    """A single parquet FILE path used to os.walk nothing and no-op
    with an all-zero report."""
    import glob as _glob

    from dask_felleskomponenter_spark.governance.erasure import (
        erase_keys_parquet,
    )

    d = str(tmp_path / "one")
    spark.range(20).selectExpr("id as subject_id").coalesce(1).write.parquet(d)
    f = _glob.glob(d + "/part-*.parquet")[0]
    report = erase_keys_parquet(f, "subject_id", [3, 4])
    assert report == {
        "files_total": 1,
        "files_rewritten": 1,
        "rows_deleted": 2,
    }
    assert spark.read.parquet(d).count() == 18


def test_path_mutex_normalizes_equivalent_paths(tmp_path):
    """'dir' and 'dir/' must contend on the SAME lock file, or two
    erasure/merge runs on one directory proceed concurrently."""
    import os as _os

    from dask_felleskomponenter_spark.ioutil import path_mutex

    d = str(tmp_path / "locked")
    _os.makedirs(d)
    with path_mutex(d):
        locks = [f for f in _os.listdir(str(tmp_path)) if f.endswith(".lock")]
        assert locks == ["locked.lock"]
    with path_mutex(d + "/"):
        locks = [f for f in _os.listdir(str(tmp_path)) if f.endswith(".lock")]
        assert locks == ["locked.lock"]


def test_profile_numeric_columns_rejects_empty_cols(spark):
    """An empty dynamically-derived column list reached stack() with
    wrong arity and failed with an opaque Catalyst error."""
    import pytest as _pytest

    from dask_felleskomponenter_spark.operators.metrics import (
        profile_numeric_columns,
    )

    with _pytest.raises(ValueError, match="non-empty"):
        profile_numeric_columns(spark.range(3), [])


def test_mandatory_metadata_rejects_unknown_level():
    """A typo'd level silently returned the gold requirements, telling
    the caller a nonexistent level is real; the enumeration entry point
    must gate against the registry like validate_table does."""
    import pytest as _pytest

    from dask_felleskomponenter_spark.governance.checks import (
        get_mandatory_metadata_for_medaljongnivaa,
    )

    with _pytest.raises(ValueError, match="golld"):
        get_mandatory_metadata_for_medaljongnivaa("golld")


def test_geometry_remedy_escapes_apostrophe_in_column_name():
    """The column name lands inside a SQL string literal in the remedy;
    an apostrophe must not terminate it (quote-everything contract)."""
    from dask_felleskomponenter_spark.governance.checks import (
        check_geometri_encoding,
    )
    from dask_felleskomponenter_spark.governance.model import TableMetadata

    md = TableMetadata(
        catalog="c", schema="s", table="t",
        column_properties={"geom'd": {"epsg": "4326"}},
    )
    errs = check_geometri_encoding(md, [])
    assert len(errs) == 1
    assert "'columns.geom''d.geometri_encoding'" in errs[0].solution


def test_backslash_values_round_trip(spark):
    """Round-8 finding: _quote_value doubled quotes but not backslashes,
    so a value ending in '\\' (a Windows path) swallowed the closing
    quote and every write died with PARSE_SYNTAX_ERROR."""
    import shutil

    from dask_felleskomponenter_spark.governance.store import (
        TblPropertiesMetadataStore,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS gov_test")
    spark.sql("DROP TABLE IF EXISTS gov_test.t_bslash")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/gov_test.db/t_bslash", ignore_errors=True)
    spark.createDataFrame([(1,)], ["id"]).write.mode("overwrite").saveAsTable(
        "gov_test.t_bslash"
    )
    store = TblPropertiesMetadataStore(spark)
    hostile = {
        "trail": "C:\\data\\",           # trailing backslash
        "quoted": "it's a \\' trap",     # backslash-before-quote
        "plain": "ok",
    }
    store.set_tags("gov_test", "t_bslash", hostile)
    got = store.get_properties("gov_test", "t_bslash")
    for k, v in hostile.items():
        assert got[k] == v, (k, got.get(k))


def test_column_tags_join_case_insensitively(spark):
    """Round-8 finding: tags written under a different CASE than the
    schema's canonical field name vanished from the column view while
    get_table_metadata still showed them — the two read views must
    agree. Spark identifiers are case-insensitive, so 'NAVN' is a
    legitimate spelling of column 'navn'."""
    import shutil

    from dask_felleskomponenter_spark.governance.store import (
        TblPropertiesMetadataStore,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS gov_test")
    spark.sql("DROP TABLE IF EXISTS gov_test.t_case")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/gov_test.db/t_case", ignore_errors=True)
    spark.createDataFrame([(1, "a")], ["id", "navn"]).write.mode(
        "overwrite"
    ).saveAsTable("gov_test.t_case")
    store = TblPropertiesMetadataStore(spark)
    store.set_column_properties("gov_test", "t_case", "NAVN", {"pii": "yes"})
    cm = store.get_table_column_metadata("spark_catalog", "gov_test", "t_case")
    got = {
        (r["column_name"], r["tag_name"]): r["tag_value"]
        for r in cm.collect()
        if r["tag_name"] is not None
    }
    assert got == {("navn", "pii"): "yes"}


def test_column_metadata_with_none_catalog(spark):
    """Round-8 finding: catalog=None (legal everywhere else in the
    store) crashed get_table_column_metadata with CANNOT_DETERMINE_TYPE
    (inferred schema over an all-None column), and the plain catalog
    equality in the join would have dropped every tag (NULL == NULL is
    NULL) — eqNullSafe + explicit DDL schemas."""
    import shutil

    from dask_felleskomponenter_spark.governance.store import (
        TblPropertiesMetadataStore,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS gov_test")
    spark.sql("DROP TABLE IF EXISTS gov_test.t_nocat")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/gov_test.db/t_nocat", ignore_errors=True)
    spark.createDataFrame([(1, "a")], ["id", "navn"]).write.mode(
        "overwrite"
    ).saveAsTable("gov_test.t_nocat")
    store = TblPropertiesMetadataStore(spark)
    store.set_column_properties("gov_test", "t_nocat", "navn", {"pii": "yes"})
    cm = store.get_table_column_metadata(None, "gov_test", "t_nocat")
    got = {
        (r["column_name"], r["tag_name"]): r["tag_value"]
        for r in cm.collect()
        if r["tag_name"] is not None
    }
    assert got == {("navn", "pii"): "yes"}
    assert {r["table_catalog"] for r in cm.collect()} == {None}


def test_get_spark_reads_nanos_parquet_directly(spark):
    """Round-8 finding: get_spark lacked the nanosAsLong conf that
    tune_session sets, so a direct spark.read.parquet of the driver's
    nanosecond events.parquet failed unless load_table had run first.
    The session fixture is get_spark-built; a direct read must work."""
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    df = spark.read.parquet(f"{sf}/events.parquet")
    assert df.count() > 0


def test_table_metadata_filters_all_internal_prefixes():
    """Round-8 finding: the absorb loop dropped only delta.* while the
    store filters the full INTERNAL_PREFIXES tuple — a TableMetadata
    built straight from SHOW TBLPROPERTIES output absorbed spark.*/
    option.*/transient_lastDdlTime into optional_params and disagreed
    with the store-built twin."""
    from dask_felleskomponenter_spark.governance.model import TableMetadata

    md = TableMetadata(
        tittel="t",
        **{
            "delta.minReaderVersion": "1",
            "spark.sql.create.version": "4.1.2",
            "option.serialization.format": "1",
            "transient_lastDdlTime": "123",
            "pre_delta.note": "user tag that merely CONTAINS a prefix",
            "custom": "keep",
        },
    )
    assert md.optional_params == {
        "pre_delta.note": "user tag that merely CONTAINS a prefix",
        "custom": "keep",
    }


def test_codelist_registry_get_returns_copies():
    """Round-8 finding: get() handed out the module-level codelist
    lists themselves — caller mutation corrupted every registry
    instance in the process."""
    from dask_felleskomponenter_spark.governance.codelists import (
        CodelistRegistry,
    )

    r1 = CodelistRegistry()
    entries = r1.get("tilgangsnivaa")
    before = list(entries)
    entries.clear()  # hostile caller
    assert CodelistRegistry().get("tilgangsnivaa") == before
    assert r1.get("tilgangsnivaa") == before


def test_erasure_rejects_string_keys(tmp_path):
    """Round-10: a bare string 'alice' became the set of its CHARACTERS
    and the run reported an all-zero SUCCESS over un-erased data."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from dask_felleskomponenter_spark.governance.erasure import (
        erase_keys_parquet,
    )

    f = tmp_path / "t.parquet"
    pq.write_table(pa.table({"user_id": ["alice", "bob"]}), f)
    with _pytest.raises(TypeError, match="sequence"):
        erase_keys_parquet(str(f), "user_id", "alice")
    out = erase_keys_parquet(str(f), "user_id", ["alice"])
    assert out["rows_deleted"] == 1


def test_erasure_single_file_reaps_crash_tmp(tmp_path):
    """Round-10: os.walk(file) yields nothing, so single-file targets
    never reaped their own .rewrite.tmp crash residue — a full
    pre-erasure copy (subject rows included) lingering on disk."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_felleskomponenter_spark.governance.erasure import (
        erase_keys_parquet,
    )

    f = tmp_path / "t.parquet"
    pq.write_table(pa.table({"user_id": ["alice", "bob"]}), f)
    residue = tmp_path / ".t.parquet.rewrite.tmp"
    residue.write_bytes(b"pre-erasure copy bytes")
    out = erase_keys_parquet(str(f), "user_id", ["alice"])
    assert out["rows_deleted"] == 1
    assert not residue.exists(), "crash residue must be reaped"
