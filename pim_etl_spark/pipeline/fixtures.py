"""Deterministic PIM feed fixtures (FIXTURES.md §B shapes).

Synthesizes the five MidOcean-shape endpoint tables with the feed
quirks the transform must handle: numerics-as-strings, EU decimal
commas, thousands-dotted quantities, the 2099-12-31 active sentinel,
stringly booleans, trailing-space categories, non-image assets, SKUs
missing from the pricelist, and unknown technique codes. Values are
formulaic (seeded) — no data is copied from the reference.
"""

from __future__ import annotations

import random
import tempfile

from pyspark.sql import DataFrame, SparkSession

from pim_etl_spark.pipeline import schemas

SEED = 42

TECHNIQUES = ["L1", "S2", "E1", "D4", "P3", "T6", "DM", "DB", "SB", "XX"]  # XX: unknown, dropped
COLORS = [("01", "Black", "Black"), ("02", "White", "White"), ("05", "Royal Blue", "Blue"),
          ("09", "Lime", "Green"), ("16", "Matt Silver", "Silver"), ("21", "Red", "Red")]
CATS = [
    ("Office & Writing", "Desk accessories ", "Desk lights"),
    ("Drinkware", "Bottles", "Sports bottles"),
    ("Bags & Travel", "Backpacks", None),
    ("Technology", "Chargers ", "Wireless chargers"),
]
POSITIONS = ["FRONT", "BACK", "TOP LID", "BARREL", "STRAP"]


def _eu(x: float) -> str:
    return f"{x:.2f}".replace(".", ",")


def _thousands(n: int) -> str:
    return f"{n:,}".replace(",", ".")


def build_feed_rows(n_masters: int = 40):
    """Returns dict of endpoint → list[Row-dict] (deterministic)."""
    rng = random.Random(SEED)
    products, pricelist, printdata, stock = [], [], [], []
    for m in range(n_masters):
        code = f"PR{1000 + m}"
        cat = CATS[m % len(CATS)]
        n_var = 2 + m % 5
        variants = []
        for v in range(n_var):
            color = COLORS[(m + v) % len(COLORS)]
            sku = f"{code}-{color[0]}"
            discontinued = (m + v) % 7 == 0
            plc_dead = (m + v) % 11 == 0
            variants.append(
                {
                    "variant_id": str(10_000_000 + m * 100 + v),
                    "sku": sku,
                    "release_date": f"20{10 + m % 12}-0{1 + v % 9}-01",
                    "discontinued_date": f"202{v % 5}-06-30" if discontinued else "2099-12-31",
                    "category_level1": cat[0],
                    "category_level2": cat[1],
                    "category_level3": cat[2],
                    "color_code": color[0],
                    "color_description": color[1],
                    "color_group": color[2],
                    "pms_color": color[1].upper(),
                    "plc_status_description": "END OF LIFE - DISCONTINUED" if plc_dead else "COLLECTION",
                    "gtin": str(8_700_000_000_000 + m * 1000 + v),
                    "digital_assets": [
                        {
                            "url": f"https://cdn.example.com/{sku}/front.jpg",
                            "url_highress": f"https://cdn.example.com/{sku}/front_hr.jpg",
                            "type": "image",
                            "subtype": "item_picture_front",
                        },
                        {
                            "url": f"https://cdn.example.com/{sku}/side.jpg",
                            "url_highress": f"https://cdn.example.com/{sku}/side_hr.jpg",
                            "type": "image",
                            "subtype": "item_picture_side",
                        },
                        {
                            "url": f"https://cdn.example.com/{sku}/manual.pdf",
                            "url_highress": None,
                            "type": "document",
                            "subtype": "declaration_of_conformity",
                        },
                    ][: 2 + (m + v) % 2],
                }
            )
            # ~85% of SKUs have a price row; EU decimal-comma format
            if (m + v) % 7 != 3:
                pricelist.append(
                    {
                        "sku": sku,
                        "variant_id": variants[-1]["variant_id"],
                        "price": _eu(1.5 + ((m * 7 + v * 3) % 200) / 7.0),
                        "valid_until": "2026-01-31",
                        "currency": "GBP",
                    }
                )
            stock.append(
                {
                    "sku": sku,
                    "qty": (m * 997 + v * 131) % 20000,
                    "first_arrival_date": "2025-05-13" if v % 2 == 0 else None,
                    "first_arrival_qty": 500 + v * 100 if v % 2 == 0 else None,
                    "next_arrival_date": "2025-09-01" if v % 3 == 0 else None,
                    "next_arrival_qty": 1000 if v % 3 == 0 else None,
                    "modified_at": f"2025-04-{1 + (m + v) % 28:02d}T12:45:13+02:00",
                }
            )
        products.append(
            {
                "master_code": code,
                "master_id": str(40_000_000 + m),
                "type_of_products": "stock",
                "product_name": f"Sample product {m}",
                "short_description": f"short description {m}",
                "long_description": f"long description {m} with details",
                "brand": f"Brand{m % 5}",
                "product_class": cat[0],
                "material": ["ABS", "Aluminium", "RPET", "Bamboo"][m % 4],
                "commodity_code": f"{9000 + m} 1000",
                "country_of_origin": ["CN", "DE", "NL", "IN"][m % 4],
                "dimensions": f"{_eu(5 + m % 20)}X{m % 8 + 1}X{m % 3 + 1} CM".replace(",00", ""),
                "length": str(5.0 + m % 20),
                "width": str(m % 8 + 1),
                "height": str(m % 3 + 1),
                "length_unit": "cm",
                "width_unit": "cm",
                "height_unit": "cm",
                "gross_weight": f"{0.05 + (m % 40) / 25:.3f}" if m % 6 != 5 else None,
                "net_weight": f"{0.04 + (m % 40) / 30:.3f}",
                "gross_weight_unit": "kg",
                "net_weight_unit": "kg",
                "inner_carton_quantity": str(10 + m % 10),
                "outer_carton_quantity": _thousands(1000 + m * 10) if m % 9 == 0 else str(40 + m % 60),
                "carton_length": _eu(0.3 + (m % 10) / 20),
                "carton_length_unit": "m",
                "carton_width": _eu(0.2 + (m % 8) / 25),
                "carton_width_unit": "m",
                "carton_height": _eu(0.15 + (m % 6) / 30),
                "carton_height_unit": "m",
                "carton_volume": _eu(0.02 + (m % 12) / 500),
                "carton_volume_unit": "m3",
                "carton_gross_weight": _eu(8.0 + (m % 30) / 4) if m % 5 != 4 else None,
                "carton_gross_weight_unit": "kg",
                "printable": ["yes", "no", "YES", ""][m % 4],
                "number_of_print_positions": str(1 + m % 4),
                "timestamp": "2025-03-07T08:09:46",
                "variants": variants,
            }
        )
        # print positions per master: 1..3, techniques incl. unknowns
        for p in range(1 + m % 3):
            printdata.append(
                {
                    "master_code": code,
                    "print_manipulation": "B" if p == 0 else "C",
                    "print_template": f"https://cdn.example.com/templates/{code}.pdf",
                    "position_id": POSITIONS[(m + p) % len(POSITIONS)],
                    "print_size_unit": "mm",
                    "max_print_size_width": float(20 + (m + p) % 60),
                    "max_print_size_height": float(5 + (m + p) % 30),
                    "print_position_type": ["Rectangle", "Ellipse", "Polygon"][(m + p) % 3],
                    "technique_id": TECHNIQUES[(m + p) % len(TECHNIQUES)],
                    "technique_default": p == 0,
                    "max_colours": str((m + p) % 5),
                    "image_blank": f"https://cdn.example.com/{code}/pos{p}_blank.png",
                    "image_with_area": f"https://cdn.example.com/{code}/pos{p}_area.png",
                    "variant_color": COLORS[m % len(COLORS)][0],
                }
            )
    printprices = []
    for ti, t in enumerate(TECHNIQUES[:-1]):  # pricelist has no entry for one decode code
        for r, (a_from, a_to) in enumerate([("0", "25"), ("25", _thousands(999999))]):
            for si, min_q in enumerate(["1", "50", "250", _thousands(1000), _thousands(20000)]):
                printprices.append(
                    {
                        "technique_id": t,
                        "description": f"Technique {t}",
                        "pricing_type": ["NumberOfColours", "AreaRange", "NumberOfPositions"][ti % 3],
                        "setup": _eu(10.0 + ti * 2),
                        "setup_repeat": _eu(5.0 + ti),
                        "next_colour_cost_indicator": "true" if ti % 2 == 0 else "false",
                        "range_id": ["", "A"][r] if ti % 3 == 1 else "",
                        "area_from": a_from,
                        "area_to": a_to,
                        "minimum_quantity": min_q,
                        "price": _eu(2.5 - si * 0.4 + ti * 0.1),
                        "next_price": _eu(1.0 + ti * 0.05) if ti % 2 == 0 else "",
                    }
                )
    # localized fetches (language-parameterized API): German for every
    # master, French for every third — so maps carry 2–3 languages
    i18n = []
    for m in range(n_masters):
        code = f"PR{1000 + m}"
        i18n.append(
            {
                "master_code": code,
                "language": "de",
                "product_name": f"Beispielprodukt {m}",
                "short_description": f"Kurzbeschreibung {m}",
                "long_description": f"Langbeschreibung {m} mit Details",
            }
        )
        if m % 3 == 0:
            i18n.append(
                {
                    "master_code": code,
                    "language": "fr",
                    "product_name": f"Produit exemple {m}",
                    "short_description": f"Description courte {m}",
                    "long_description": None,  # partial translation: key absent from the map
                }
            )
    # sustainability rows for ~2/3 of masters (EU suppliers ship these;
    # absent rows must yield a null struct, not a crash)
    sustainability = []
    for m in range(n_masters):
        if m % 3 == 2:
            continue
        # totals are multiples of 0.2 so every stage share (50/15/25/10%)
        # is exactly representable in the feed's 2-decimal EU strings
        total = 0.2 * (1 + m % 5)
        parts = [total * w for w in (0.5, 0.15, 0.25, 0.10)]
        sustainability.append(
            {
                "master_code": f"PR{1000 + m}",
                "eco": ["yes", "no", "YES"][m % 3],
                "recycled_content_pct": str(m % 100),
                "co2_total": _eu(total),
                "co2_material": _eu(parts[0]),
                "co2_packaging": _eu(parts[1]),
                "co2_transport": _eu(parts[2]),
                "co2_eol": _eu(parts[3]),
                "social_audits": ["BSCI,SMETA", "BSCI", ""][m % 3],
                "green_points": str(10 + m % 20),
            }
        )
    rng.shuffle(pricelist)  # feed order is not sorted; pipeline must not rely on it
    return {
        "mo_products": products,
        "mo_pricelist": pricelist,
        "mo_printdata": printdata,
        "mo_printprices": printprices,
        "mo_stock": stock,
        "mo_products_i18n": i18n,
        "mo_sustainability": sustainability,
    }


FEED_SCHEMAS = {
    "mo_products": schemas.MO_PRODUCTS,
    "mo_pricelist": schemas.MO_PRICELIST,
    "mo_printdata": schemas.MO_PRINTDATA,
    "mo_printprices": schemas.MO_PRINTPRICES,
    "mo_stock": schemas.MO_STOCK,
    "mo_products_i18n": schemas.MO_PRODUCTS_I18N,
    "mo_sustainability": schemas.MO_SUSTAINABILITY,
}


def build_other_supplier_rows():
    """Small deterministic feeds for the Laltex / XD / Keramikos
    dialects (FIXTURES.md §B8 breadth rows)."""
    laltex_products = [
        (f"LT{100 + i}", f"Laltex item {i}", f"desc {i}", "BrandL",
         ["GB", "CN"][i % 2], f"£{1 + i * 0.25:.2f}", str(10 * (i + 1)), f"{0.1 * (i + 1):.2f} kg")
        for i in range(6)
    ]
    laltex_bands = []
    for i in range(6):
        code = f"LT{100 + i}"
        laltex_bands += [
            (code, "1", "49", f"£{2 + i * 0.25:.2f}"),
            (code, "50", "249", f"£{1.5 + i * 0.25:.2f}"),
            (code, "250", "N/A", f"£{1 + i * 0.25:.2f}"),
        ]
    laltex_shipping = [
        ("ukstandard", "UK STANDARD", "1", "2", "£18.85", "N/A"),
        ("ukstandard", "UK STANDARD", "3", "10", "N/A", "£5.90"),
        ("ukstandard", "UK STANDARD", "11", "N/A", "N/A", "£4.10"),
        ("ukprenoon", "UK PRE-NOON", "1", "5", "£32.00", "N/A"),
        ("ukprenoon", "UK PRE-NOON", "6", "N/A", "N/A", "£6.50"),
    ]
    xd_products = []
    for i in range(6):
        row = {
            "ItemCode": f"XD{200 + i}", "ItemName": f"XD item {i}",
            "LongDescription": f"xd desc {i}", "BrandName": "XDB",
            "AllImages": ", ".join(f"https://x/{i}/{j}.jpg" for j in range(3)),
            "ItemDataLastModifiedDateTime": f"2025-02-{1 + i:02d} 10:00:00",
        }
        qtys = [50, 100, 250, 500, 1000, 2500]
        for j in range(6):
            filled = j < 3 + i % 4
            row[f"Qty{j + 1}"] = str(qtys[j]) if filled else None
            row[f"ItemPriceNet_Qty{j + 1}"] = f"{5 - j * 0.5:.2f}".replace(".", ",") if filled else None
        xd_products.append(row)
    keramikos_products = [
        (f"KM{300 + i}", f"Ceramic {i}", "Ceramic", f"{180 + i} x {60 + i}mm",
         [("Capacity", f"{250 + 50 * i}ml"), ("Dishwasher safe", ["Yes", "No"][i % 2])])
        for i in range(5)
    ]
    keramikos_grid = []
    for i in range(5):
        code = f"KM{300 + i}"
        for q in ("100", "500"):
            for c in ("1", "2"):
                keramikos_grid.append((code, q, c, f"{1 + int(q) / 1000 + int(c) * 0.3:.2f}".replace(".", ",")))
    return {
        "laltex": {
            "laltex_products": laltex_products,
            "laltex_pricebands": laltex_bands,
            "laltex_shipping": laltex_shipping,
        },
        "xd": {"xd_products": xd_products},
        "keramikos": {"keramikos_products": keramikos_products, "keramikos_printgrid": keramikos_grid},
    }


def all_supplier_feeds(spark: SparkSession, n_masters: int = 40) -> dict[str, dict[str, DataFrame]]:
    """Feeds for every registered supplier (midocean + dialects),
    parquet-backed (landed once per session — see ``feed_frames``)."""
    from pim_etl_spark.pipeline import suppliers as sup

    schemas_by_supplier = {
        "laltex": {
            "laltex_products": sup.LALTEX_PRODUCTS,
            "laltex_pricebands": sup.LALTEX_PRICEBANDS,
            "laltex_shipping": sup.LALTEX_SHIPPING,
        },
        "xd": {"xd_products": sup.XD_PRODUCTS},
        "keramikos": {
            "keramikos_products": sup.KERAMIKOS_PRODUCTS,
            "keramikos_printgrid": sup.KERAMIKOS_PRINTGRID,
        },
    }
    out = {"midocean": feed_frames(spark, n_masters)}
    key = (spark.sparkContext.applicationId, "dialects")
    if key not in _LANDED_DIRS:
        d = tempfile.mkdtemp(prefix="pim_feeds_dialects_")
        rows = build_other_supplier_rows()
        for sid, feed_rows in rows.items():
            for name, data in feed_rows.items():
                spark.createDataFrame(data, schemas_by_supplier[sid][name]).write.mode(
                    "overwrite"
                ).parquet(f"{d}/{name}.parquet")
        _LANDED_DIRS[key] = d
    d = _LANDED_DIRS[key]
    rows = build_other_supplier_rows()
    for sid, feed_rows in rows.items():
        out[sid] = {name: spark.read.parquet(f"{d}/{name}.parquet") for name in feed_rows}
    return out


# Landed-parquet cache: fixture rows are synthesized and written ONCE
# per (session, shape), then every consumer reads the parquet back.
# Driver-side createDataFrame per call was the top bench cost
# (~2 s/call at 40 masters) and hid scan-side pruning from the plans;
# parquet-backed feeds measure the actual transform.
_LANDED_DIRS: dict[tuple[str, object], str] = {}


def feed_frames(spark: SparkSession, n_masters: int = 40) -> dict[str, DataFrame]:
    key = (spark.sparkContext.applicationId, n_masters)
    if key not in _LANDED_DIRS:
        d = tempfile.mkdtemp(prefix=f"pim_feeds_{n_masters}_")
        rows = build_feed_rows(n_masters)
        for name in rows:
            spark.createDataFrame(rows[name], FEED_SCHEMAS[name]).write.mode(
                "overwrite"
            ).parquet(f"{d}/{name}.parquet")
        _LANDED_DIRS[key] = d
    d = _LANDED_DIRS[key]
    return {name: spark.read.parquet(f"{d}/{name}.parquet") for name in FEED_SCHEMAS}
