"""End-to-end tests of the PIM feed pipeline (bronze → silver → gold)
on deterministic fixtures (FIXTURES.md §B shapes)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from pim_etl_spark.pipeline import fixtures, gold, registry, schemas, silver
from pim_etl_spark.pipeline.bronze import read_jsonc, with_corrupt_quarantine


@pytest.fixture(scope="module")
def feeds(spark):
    return fixtures.feed_frames(spark, n_masters=40)


@pytest.fixture(scope="module")
def unified(spark, feeds):
    df = silver.transform_products(
        feeds["mo_products"], feeds["mo_pricelist"], feeds["mo_printdata"],
        feeds["mo_printprices"], spark, localized_raw=feeds["mo_products_i18n"],
    ).cache()
    yield df
    df.unpersist()


def test_unified_shape(unified, feeds):
    rows = unified.collect()
    assert len(rows) == feeds["mo_products"].count()  # one row per master
    assert unified.filter(F.col("product_id").isNull()).count() == 0
    ids = [r.product_id for r in rows]
    assert len(set(ids)) == len(ids)
    assert all(i.startswith("midocean_PR") for i in ids)


def test_eu_decimal_prices_parsed(unified, feeds):
    # every variant price must equal the EU-comma feed string parsed
    feed_prices = {
        r.sku: float(r.price.replace(",", ".")) for r in feeds["mo_pricelist"].collect()
    }
    exploded = unified.select(F.explode("variants").alias("v")).select(
        "v.sku", F.explode_outer("v.prices").alias("p")
    )
    for r in exploded.collect():
        if r.p is None:
            assert r.sku not in feed_prices  # missing SKU ⇒ empty price list
        else:
            assert r.p.amount == pytest.approx(feed_prices[r.sku])
            assert r.p.currency == "GBP"


def test_variant_status_derivation(unified):
    # sentinel 2099-12-31 + COLLECTION ⇒ active; real date or
    # DISCONTINUED plc text ⇒ discontinued (reference P4 logic)
    variants = unified.select(F.explode("variants").alias("v")).collect()
    assert {r.v.status for r in variants} == {"active", "discontinued"}


def test_image_filter_and_prettify(unified):
    imgs = unified.select(F.explode("variants").alias("v")).select(
        F.explode("v.images").alias("i")
    )
    rows = imgs.collect()
    assert rows, "no images survived the filter"
    # documents/videos are filtered out (P6); subtype prettified (F5)
    assert all(r.i.url.endswith(".jpg") for r in rows)
    front = [r for r in rows if r.i.subtype == "item_picture_front"]
    assert front and front[0].i.description == "Item Picture Front"


def test_categories_unpivot(unified):
    cats = unified.select("product_id", F.explode("categories").alias("c"))
    levels = {r.c.level for r in cats.collect()}
    assert levels == {1, 2, 3}
    # trailing-space category names are preserved as-is (feed fidelity)
    trailing = cats.filter(F.col("c.name").endswith(" ")).count()
    assert trailing > 0


def test_technique_decode_drops_unknown(unified):
    techs = (
        unified.select(F.explode("print_positions").alias("p"))
        .select(F.explode("p.techniques").alias("t"))
        .distinct()
        .collect()
    )
    names = {r.t for r in techs}
    known = {t[1] for t in silver.TECHNIQUE_DECODE}
    assert names <= known and names  # decoded names only; XX dropped


def test_print_options_product_agnostic(unified):
    # every product carries the same full technique price list (J4)
    counts = unified.select(F.size("print_options").alias("n")).distinct().collect()
    assert len(counts) == 1
    n = counts[0].n
    # 9 decodable techniques, minus the one with no pricelist rows ("SB"
    # is in decode but TECHNIQUES[:-1] includes it; "XX" has prices but
    # no decode) → assert > 0 and tiers sorted ascending
    assert n > 0
    opt = unified.select(F.explode("print_options").alias("o")).select("o.*").limit(1).collect()[0]
    qtys = [p.min_quantity for p in opt.prices]
    assert qtys == sorted(qtys) and qtys[0] == 1


def test_base_price_is_first_variant_first_price(unified):
    row = unified.filter(F.col("base_price").isNotNull()).select(
        "base_price", F.element_at(F.element_at("variants", 1)["prices"], 1)["amount"].alias("p0")
    ).limit(5).collect()
    assert row and all(r.base_price == r.p0 for r in row)


def test_weight_fallback_and_carton_parse(unified, feeds):
    raw = {r.master_code: r for r in feeds["mo_products"].collect()}
    got = {
        r.supplier_product_code: r
        for r in unified.select("supplier_product_code", "weight", "carton_quantity").collect()
    }
    for code, r in raw.items():
        exp_weight = float(r.gross_weight or r.net_weight)
        assert got[code].weight.value == pytest.approx(exp_weight)
        exp_carton = int(r.outer_carton_quantity.replace(".", ""))
        assert got[code].carton_quantity == exp_carton


def test_printable_bool(unified, feeds):
    raw = {r.master_code: r.printable for r in feeds["mo_products"].collect()}
    for r in unified.select("supplier_product_code", "is_printable").collect():
        assert r.is_printable == (raw[r.supplier_product_code].lower() == "yes")


def test_registry_sync(spark, feeds, unified):
    out = registry.run_sync(spark, {"midocean": feeds})
    assert out.count() == unified.count()
    with pytest.raises(KeyError, match="no supplier registered"):
        registry.get_supplier("nope")


def test_corrupt_quarantine(spark, feeds):
    corrupt = spark.createDataFrame(
        [{"master_code": None, "product_name": "broken", "timestamp": "t"}],
        schemas.MO_PRODUCTS,
    )
    both = feeds["mo_products"].unionByName(corrupt)
    good, bad = with_corrupt_quarantine(both, required=("master_code", "product_name"))
    assert bad.count() == 1 and good.count() == feeds["mo_products"].count()


def test_jsonc_reader(spark, tmp_path):
    doc = [
        "// supplier feed (comment line)",
        "[",
        '  {"sku": "A-1", "variant_id": "1", "price": "3,63", "valid_until": "2026-01-31", "currency": "GBP",},',
        '  {"sku": "B-2", "variant_id": "2", "price": "10,00", "valid_until": "2026-01-31", "currency": "GBP"},',
        "]",
    ]
    p = tmp_path / "feed.jsonc"
    p.write_text("\n".join(doc))
    df = read_jsonc(spark, str(p), schemas.MO_PRICELIST)
    rows = {r.sku: r.price for r in df.collect()}
    assert rows == {"A-1": "3,63", "B-2": "10,00"}


def test_gold_upsert_delete_retention(spark, unified, tmp_path):
    flat = unified.select("product_id", "supplier_id", "status", "feed_timestamp")
    updated = flat.withColumn("status", F.lit("discontinued"))
    merged = gold.apply_upsert(flat, updated.limit(10), keys=["product_id"], order_col="feed_timestamp")
    assert merged.count() == flat.count()
    assert merged.filter(F.col("status") == "discontinued").count() >= 10

    fewer = gold.delete_by_ids(flat, "product_id", ["midocean_PR1000"])
    assert fewer.count() == flat.count() - 1

    kept = gold.cleanup_old(
        flat.withColumn("updated_at", F.lit("2020-01-01").cast("timestamp_ntz")),
        "supplier_id", "midocean", "updated_at", "2021-01-01",
    )
    assert kept.count() == 0  # all rows older than cutoff for this supplier

    gold.backup(flat, str(tmp_path / "backup.parquet"))
    assert spark.read.parquet(str(tmp_path / "backup.parquet")).count() == flat.count()

    stats = gold.collection_stats(flat, ["supplier_id"]).collect()
    assert stats[0]["count"] == flat.count()


def test_triple_nested_flatten(spark):
    """N3: techniques[] -> var_costs[] -> scales[] chained explode
    yields the flat printprice shape, round-trippable into the silver
    parser."""
    from pim_etl_spark.pipeline.bronze import flatten_printprice_document

    doc = json.dumps(
        {
            "techniques": [
                {
                    "technique_id": "L1",
                    "description": "Laser",
                    "pricing_type": "AreaRange",
                    "setup": "16,00",
                    "setup_repeat": "8,00",
                    "next_colour_cost_indicator": "false",
                    "var_costs": [
                        {
                            "range_id": "A",
                            "area_from": "0",
                            "area_to": "25",
                            "scales": [
                                {"minimum_quantity": "1", "price": "1,79", "next_price": ""},
                                {"minimum_quantity": "1.000", "price": "0,99", "next_price": ""},
                            ],
                        },
                        {
                            "range_id": "B",
                            "area_from": "25",
                            "area_to": "999.999",
                            "scales": [
                                {"minimum_quantity": "1", "price": "2,49", "next_price": ""}
                            ],
                        },
                    ],
                }
            ]
        }
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    s = lambda n: StructField(n, StringType(), True)  # noqa: E731
    nested_schema = StructType(
        [
            StructField(
                "techniques",
                ArrayType(
                    StructType(
                        [
                            s("technique_id"), s("description"), s("pricing_type"),
                            s("setup"), s("setup_repeat"), s("next_colour_cost_indicator"),
                            StructField(
                                "var_costs",
                                ArrayType(
                                    StructType(
                                        [
                                            s("range_id"), s("area_from"), s("area_to"),
                                            StructField(
                                                "scales",
                                                ArrayType(
                                                    StructType(
                                                        [s("minimum_quantity"), s("price"), s("next_price")]
                                                    )
                                                ),
                                            ),
                                        ]
                                    )
                                ),
                            ),
                        ]
                    )
                ),
            )
        ]
    )
    nested = spark.createDataFrame([(doc,)], "value string").select(
        F.from_json("value", nested_schema).alias("d")
    ).select("d.*")
    flat = flatten_printprice_document(nested)
    rows = flat.collect()
    assert len(rows) == 3  # 2 scales in range A + 1 in range B
    parsed = silver.parse_printprices(flat).collect()
    by_qty = {(r.range_id, r.min_quantity): r.amount for r in parsed}
    assert by_qty[("A", 1)] == pytest.approx(1.79)
    assert by_qty[("A", 1000)] == pytest.approx(0.99)  # "1.000" thousands-dot
    assert by_qty[("B", 1)] == pytest.approx(2.49)
    assert {r.setup_cost for r in parsed} == {16.0}


def test_stock_attach(spark, feeds, unified):
    stock = silver.parse_stock(feeds["mo_stock"])
    with_stock = silver.attach_stock(unified, stock)
    assert with_stock.count() == unified.count()
    v = with_stock.select(F.explode("variants").alias("v")).select("v.sku", "v.stock")
    rows = {r.sku: r.stock for r in v.collect()}
    raw = {r.sku: r for r in feeds["mo_stock"].collect()}
    hits = 0
    for sku, st in rows.items():
        assert st is not None, f"stock missing for {sku}"
        assert st.quantity == raw[sku].qty
        # unified locations array: single-warehouse feed → one MAIN entry
        assert [(loc.id, loc.qty) for loc in st.locations] == [("MAIN", raw[sku].qty)]
        # nextIncoming: non-null arrival pairs only, date-sorted
        expected_incoming = sorted(
            (d, q)
            for d, q in (
                (raw[sku].first_arrival_date, raw[sku].first_arrival_qty),
                (raw[sku].next_arrival_date, raw[sku].next_arrival_qty),
            )
            if d is not None
        )
        assert [(str(e.date), e.qty) for e in st.next_incoming] == [
            (d, q) for d, q in expected_incoming
        ]
        if raw[sku].first_arrival_date:
            assert str(st.first_arrival_date) == raw[sku].first_arrival_date
            hits += 1
    assert hits > 0


def test_multilingual_names(unified, spark, feeds):
    rows = {
        r.supplier_product_code: r
        for r in unified.select(
            "supplier_product_code", "name", "names", "short_descriptions", "long_descriptions"
        ).collect()
    }
    for code, row in rows.items():
        m = int(code.removeprefix("PR")) - 1000
        # every master: base 'en' + localized 'de'; every third adds 'fr'
        assert row.names["en"] == row.name
        assert row.names["de"] == f"Beispielprodukt {m}"
        assert row.short_descriptions["de"] == f"Kurzbeschreibung {m}"
        if m % 3 == 0:
            assert row.names["fr"] == f"Produit exemple {m}"
            # partial translation: null long_description never enters the map
            assert "fr" not in row.long_descriptions
            assert set(row.names) == {"en", "de", "fr"}
        else:
            assert set(row.names) == {"en", "de"}


def test_packaging_struct(unified, feeds):
    raw = {r.master_code: r for r in feeds["mo_products"].collect()}
    rows = unified.select("supplier_product_code", "packaging", "carton_quantity").collect()
    assert rows, "no products"
    for r in rows:
        src = raw[r.supplier_product_code]
        pkg = r.packaging
        assert pkg.inner_carton.qty == int(src.inner_carton_quantity)
        assert pkg.outer_carton.qty == r.carton_quantity
        # EU-string carton dims parse into the typed struct, meters kept
        assert pkg.outer_carton.dimensions.unit == "m"
        assert pkg.outer_carton.dimensions.length == pytest.approx(
            float(src.carton_length.replace(",", "."))
        )
        assert pkg.outer_carton.volume.unit == "m3"
        if src.carton_gross_weight is None:
            assert pkg.outer_carton.weight is None  # partial feed → null struct
        else:
            assert pkg.outer_carton.weight.gross == pytest.approx(
                float(src.carton_gross_weight.replace(",", "."))
            )


def test_multilingual_single_language_fallback(spark, feeds):
    solo = silver.transform_products(
        feeds["mo_products"], feeds["mo_pricelist"], feeds["mo_printdata"],
        feeds["mo_printprices"], spark,
    )
    r = solo.select("name", "names", "short_descriptions").limit(3).collect()
    for row in r:
        assert row.names == {"en": row.name}
        assert set(row.short_descriptions) == {"en"}


def test_permissive_json_corrupt_capture(spark, tmp_path):
    from pim_etl_spark.pipeline.bronze import read_json_lines_permissive

    p = tmp_path / "feed.json"
    p.write_text(
        '{"sku": "A-1", "variant_id": "1", "price": "3,63", "valid_until": "2026-01-31", "currency": "GBP"}\n'
        "this line is not json at all\n"
        '{"sku": "B-2", "variant_id": "2", "price": "1,00", "valid_until": "2026-01-31", "currency": "GBP"}\n'
    )
    df = read_json_lines_permissive(spark, str(p), schemas.MO_PRICELIST)
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert "not json" in bad.collect()[0]._corrupt_record


def test_atomic_overwrite_survives_midwrite_failure(spark, tmp_path):
    """A writer dying mid-write must leave the previous gold intact and
    readable — the snapshot lands off to the side before any swap."""
    path = str(tmp_path / "gold.parquet")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    gold.atomic_overwrite(v1, path)
    assert sorted(r.v for r in spark.read.parquet(path).collect()) == ["a", "b"]

    # poison plan: evaluation raises inside the snapshot write
    poison = spark.createDataFrame([(1,)], "k int").select(
        (F.lit(1) / F.col("k").cast("int") - F.lit(1)).alias("k"),
        F.raise_error(F.lit("writer killed mid-batch")).alias("v"),
    )
    with pytest.raises(Exception, match="writer killed"):
        gold.atomic_overwrite(poison, path)
    # gold unchanged and readable
    assert sorted(r.v for r in spark.read.parquet(path).collect()) == ["a", "b"]

    v2 = spark.createDataFrame([(1, "c")], "k int, v string")
    gold.atomic_overwrite(v2, path)
    assert [r.v for r in spark.read.parquet(path).collect()] == ["c"]


def test_atomic_overwrite_interrupted_swap_recovers(spark, tmp_path):
    """Crash between the two swap renames (live dir gone, old snapshot
    present) heals on the next read."""
    import os

    path = str(tmp_path / "gold.parquet")
    v1 = spark.createDataFrame([(1, "a")], "k int, v string")
    gold.atomic_overwrite(v1, path)
    os.rename(path, path + ".__old__")  # simulate mid-swap crash
    healed = gold.read_table_recovering(spark, path)
    assert [r.v for r in healed.collect()] == ["a"]
    assert os.path.exists(path)


def test_sustainability_struct(spark, feeds):
    df = silver.transform_products(
        feeds["mo_products"], feeds["mo_pricelist"], feeds["mo_printdata"],
        feeds["mo_printprices"], spark, sustainability_raw=feeds["mo_sustainability"],
    )
    rows = {r.supplier_product_code: r.sustainability for r in df.collect()}
    raw = {r.master_code: r for r in feeds["mo_sustainability"].collect()}
    n_checked = 0
    for code, s in rows.items():
        m = int(code.removeprefix("PR")) - 1000
        if m % 3 == 2:
            assert s is None  # feed absent for this master → null struct
            continue
        src = raw[code]
        assert s.eco == (src.eco.lower() == "yes")
        assert s.co2_total.value == pytest.approx(float(src.co2_total.replace(",", ".")))
        assert s.co2_total.unit == "kg"
        # derived percentages: stages sum to ~100
        p = s.lca_co2_percent
        assert (
            p.material_production + p.packaging + p.transport + p.eol
            == pytest.approx(100, abs=0.5)
        )
        assert s.lca_co2_breakdown.material_production.value == pytest.approx(
            float(src.co2_material.replace(",", ".")), abs=0.01
        )
        if src.social_audits:
            assert s.social_audits == src.social_audits.split(",")
        else:
            assert s.social_audits == []
        n_checked += 1
    assert n_checked > 0


def test_compact_table_reduces_files_and_preserves_rows(spark, tmp_path):
    from pim_etl_spark.pipeline import gold

    path = str(tmp_path / "frag")
    df = spark.range(10_000).withColumn("k", F.col("id") % 7)
    # fragment: 64 tiny files, as incremental syncs would leave behind
    df.repartition(64).write.parquet(path)
    stats = gold.compact_table(spark, path, target_file_mb=256, cluster_by=("k",))
    assert stats["files_before"] == 64
    assert stats["files_after"] < 8
    out = spark.read.parquet(path)
    assert out.count() == 10_000
    assert out.groupBy().sum("id").collect()[0][0] == sum(range(10_000))


def test_driver_built_tables_are_arrow_local(spark, tmp_path, monkeypatch):
    """Every driver-built table on the versioned sync path (technique
    decode, merge stats, shard ranges, Bloom lookup probe) has the
    schema and rows of the ``createDataFrame(list)`` it replaces, and
    executes as a LocalTableScan with no PythonRDD in its lineage — so
    building it starts no Python worker."""
    from pim_etl_spark import session
    from pim_etl_spark.pipeline import versioned as V

    built = []

    def recording(spark_, rows, schema):
        df = session.local_df(spark_, rows, schema)
        built.append((rows, schema, df))
        return df

    monkeypatch.setattr(silver, "local_df", recording)
    monkeypatch.setattr(V, "local_df", recording)

    def table(n, files):
        return (
            spark.range(n)
            .selectExpr("id AS product_id", "CAST(id AS DOUBLE) AS base_price",
                        "CAST(1 AS LONG) AS version")
            .repartitionByRange(files, "product_id")
        )

    batch = spark.createDataFrame(
        [(0, 9.0, 2), (100, 1.0, 2)], "product_id bigint, base_price double, version bigint"
    )
    silver.technique_decode_df(spark)
    inline = str(tmp_path / "inline")
    V.commit_snapshot(table(40, 8), inline, stats_cols=("product_id",), bloom_col="product_id")
    V.merge_files(spark, inline, batch, keys=["product_id"], order_col="version")
    V.point_lookup_plan(spark, inline, "product_id", [3, 7], version=1)
    monkeypatch.setattr(V, "MANIFEST_SHARD_SIZE", 4)
    sharded = str(tmp_path / "sharded")
    V.commit_snapshot(table(40, 20), sharded, stats_cols=("product_id",))
    V.merge_files(spark, sharded, batch, keys=["product_id"], order_col="version")

    # decode, inline stats, probe, shard ranges, sharded stats
    assert len(built) == 5
    for rows, schema, df in built:
        ref = spark.createDataFrame(rows, schema)
        assert df.schema == ref.schema
        assert sorted(df.collect(), key=str) == sorted(ref.collect(), key=str)
        qe = df._jdf.queryExecution()
        assert "LocalTableScan" in qe.executedPlan().toString()
        assert "PythonRDD" not in qe.toRdd().toDebugString()
