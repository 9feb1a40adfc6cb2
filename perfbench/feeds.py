"""Seeded PIM feed generator for the ``pim_sync`` workload.

Lands, as parquet under ``<dir>/<supplier>/<feed>.parquet``:

- MidOcean feeds (products with nested variants, pricelist, print
  data, print prices, stock, translations, sustainability) for
  ``n_masters`` masters, with the feed quirks the transform handles:
  EU decimal commas, thousands-dotted quantities, the 2099-12-31 active
  sentinel, SKUs missing from the pricelist, unknown technique codes;
- small feeds for the eight other supplier dialects.

It also pre-builds ``rounds`` delta rounds. Each round re-lands the
MidOcean rows of a seeded ~1% of masters whose price, stock or status
changed, plus a few brand-new masters. For every round it records what
gold must hold afterwards: products per supplier, and the status, base
price and per-SKU prices of every product the round touched.

The feed column types come from the supplier registry's declared feed
schemas, so the landed files are exactly what the readers expect.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TECHNIQUES = ("L1", "S2", "E1", "D4", "P3", "T6", "DM", "DB", "SB", "XX")  # XX: unknown
COLORS = (("01", "Black", "Black"), ("02", "White", "White"), ("05", "Royal Blue", "Blue"),
          ("09", "Lime", "Green"), ("16", "Matt Silver", "Silver"), ("21", "Red", "Red"))
CATS = (("Office & Writing", "Desk accessories ", "Desk lights"), ("Drinkware", "Bottles", "Sports bottles"),
        ("Bags & Travel", "Backpacks", None), ("Technology", "Chargers ", "Wireless chargers"))
POSITIONS = ("FRONT", "BACK", "TOP LID", "BARREL", "STRAP")
DIALECT_PRODUCTS = 25
ACTIVE_SENTINEL = "2099-12-31"


def _eu(x: float) -> str:
    return f"{x:.2f}".replace(".", ",")


def _thousands(n: int) -> str:
    return f"{n:,}".replace(",", ".")


@dataclass
class Master:
    """Mutable state of one MidOcean master; feed rows derive from it."""

    m: int
    n_var: int
    cents: list[int | None]  # per-variant price in cents; None = SKU missing from pricelist
    qty: list[int]
    discontinued: bool = False

    @property
    def code(self) -> str:
        return f"PR{100000 + self.m}"

    def sku(self, v: int) -> str:
        return f"{self.code}-{COLORS[(self.m + v) % len(COLORS)][0]}{v}"

    def variant_id(self, v: int) -> str:
        return str(100_000_000 + self.m * 10 + v)

    def expected(self) -> dict:
        """Gold values a point lookup of this master must return. The
        variants array is sorted by variant_id, so the base price is
        variant 0's price. The unified product carries no stock, so a
        stock-only change must leave these values as they were."""
        return {
            "status": "discontinued" if self.discontinued else "active",
            "base_price": None if self.cents[0] is None else self.cents[0] / 100,
            "prices": {self.sku(v): None if c is None else c / 100 for v, c in enumerate(self.cents)},
        }


@dataclass
class Round:
    masters: list[int]  # master indices re-landed in this round
    feeds_dir: str = ""
    expected_counts: dict[str, int] = field(default_factory=dict)
    expected_values: dict[str, dict] = field(default_factory=dict)


def _new_master(rng: np.random.Generator, m: int) -> Master:
    n_var = int(rng.integers(2, 7))
    cents = [None if rng.random() < 0.15 else int(rng.integers(150, 3000)) for _ in range(n_var)]
    return Master(m, n_var, cents, [int(q) for q in rng.integers(0, 20000, n_var)])


def _master_rows(s: Master) -> dict[str, list[dict]]:
    m, code = s.m, s.code
    cat = CATS[m % len(CATS)]
    variants, prices, stock = [], [], []
    for v in range(s.n_var):
        color = COLORS[(m + v) % len(COLORS)]
        sku = s.sku(v)
        variants.append({
            "variant_id": s.variant_id(v), "sku": sku,
            "release_date": f"20{10 + m % 12}-0{1 + v % 9}-01",
            "discontinued_date": f"202{v % 5}-06-30" if s.discontinued else ACTIVE_SENTINEL,
            "category_level1": cat[0], "category_level2": cat[1], "category_level3": cat[2],
            "color_code": color[0], "color_description": color[1], "color_group": color[2],
            "pms_color": color[1].upper(), "plc_status_description": "COLLECTION",
            "gtin": str(8_700_000_000_000 + m * 10 + v),
            "digital_assets": [
                {"url": f"https://cdn.example.com/{sku}/front.jpg",
                 "url_highress": f"https://cdn.example.com/{sku}/front_hr.jpg",
                 "type": "image", "subtype": "item_picture_front"},
                {"url": f"https://cdn.example.com/{sku}/manual.pdf", "url_highress": None,
                 "type": "document", "subtype": "declaration_of_conformity"},
            ],
        })
        if s.cents[v] is not None:
            prices.append({"sku": sku, "variant_id": s.variant_id(v), "price": _eu(s.cents[v] / 100),
                           "valid_until": "2026-01-31", "currency": "GBP"})
        stock.append({
            "sku": sku, "qty": s.qty[v],
            "first_arrival_date": "2025-05-13" if v % 2 == 0 else None,
            "first_arrival_qty": 500 + v * 100 if v % 2 == 0 else None,
            "next_arrival_date": "2025-09-01" if v % 3 == 0 else None,
            "next_arrival_qty": 1000 if v % 3 == 0 else None,
            "modified_at": f"2025-04-{1 + (m + v) % 28:02d}T12:45:13+02:00",
        })
    product = {
        "master_code": code, "master_id": str(40_000_000 + m), "type_of_products": "stock",
        "product_name": f"Sample product {m}", "short_description": f"short description {m}",
        "long_description": f"long description {m} with details", "brand": f"Brand{m % 5}",
        "product_class": cat[0], "material": ("ABS", "Aluminium", "RPET", "Bamboo")[m % 4],
        "commodity_code": f"{9000 + m % 1000} 1000", "country_of_origin": ("CN", "DE", "NL", "IN")[m % 4],
        "dimensions": f"{5 + m % 20}X{m % 8 + 1}X{m % 3 + 1} CM",
        "length": str(5.0 + m % 20), "width": str(m % 8 + 1), "height": str(m % 3 + 1),
        "length_unit": "cm", "width_unit": "cm", "height_unit": "cm",
        "gross_weight": f"{0.05 + (m % 40) / 25:.3f}" if m % 6 != 5 else None,
        "net_weight": f"{0.04 + (m % 40) / 30:.3f}", "gross_weight_unit": "kg", "net_weight_unit": "kg",
        "inner_carton_quantity": str(10 + m % 10),
        "outer_carton_quantity": _thousands(1000 + m % 500 * 10) if m % 9 == 0 else str(40 + m % 60),
        "carton_length": _eu(0.3 + (m % 10) / 20), "carton_length_unit": "m",
        "carton_width": _eu(0.2 + (m % 8) / 25), "carton_width_unit": "m",
        "carton_height": _eu(0.15 + (m % 6) / 30), "carton_height_unit": "m",
        "carton_volume": _eu(0.02 + (m % 12) / 500), "carton_volume_unit": "m3",
        "carton_gross_weight": _eu(8.0 + (m % 30) / 4) if m % 5 != 4 else None,
        "carton_gross_weight_unit": "kg", "printable": ("yes", "no", "YES", "")[m % 4],
        "number_of_print_positions": str(1 + m % 4), "timestamp": "2025-03-07T08:09:46",
        "variants": variants,
    }
    printdata = [{
        "master_code": code, "print_manipulation": "B" if p == 0 else "C",
        "print_template": f"https://cdn.example.com/templates/{code}.pdf",
        "position_id": POSITIONS[(m + p) % len(POSITIONS)], "print_size_unit": "mm",
        "max_print_size_width": float(20 + (m + p) % 60), "max_print_size_height": float(5 + (m + p) % 30),
        "print_position_type": ("Rectangle", "Ellipse", "Polygon")[(m + p) % 3],
        "technique_id": TECHNIQUES[(m + p) % len(TECHNIQUES)], "technique_default": p == 0,
        "max_colours": str((m + p) % 5),
        "image_blank": f"https://cdn.example.com/{code}/pos{p}_blank.png",
        "image_with_area": f"https://cdn.example.com/{code}/pos{p}_area.png",
        "variant_color": COLORS[m % len(COLORS)][0],
    } for p in range(1 + m % 3)]
    i18n = [{"master_code": code, "language": "de", "product_name": f"Beispielprodukt {m}",
             "short_description": f"Kurzbeschreibung {m}", "long_description": f"Langbeschreibung {m}"}]
    if m % 3 == 0:
        i18n.append({"master_code": code, "language": "fr", "product_name": f"Produit exemple {m}",
                     "short_description": f"Description courte {m}", "long_description": None})
    total = 0.2 * (1 + m % 5)
    sustainability = [] if m % 3 == 2 else [{
        "master_code": code, "eco": ("yes", "no", "YES")[m % 3], "recycled_content_pct": str(m % 100),
        "co2_total": _eu(total), "co2_material": _eu(total * 0.5), "co2_packaging": _eu(total * 0.15),
        "co2_transport": _eu(total * 0.25), "co2_eol": _eu(total * 0.1),
        "social_audits": ("BSCI,SMETA", "BSCI", "")[m % 3], "green_points": str(10 + m % 20),
    }]
    return {"mo_products": [product], "mo_pricelist": prices, "mo_printdata": printdata,
            "mo_stock": stock, "mo_products_i18n": i18n, "mo_sustainability": sustainability}


def _printprices() -> list[dict]:
    rows = []
    for ti, t in enumerate(TECHNIQUES[:-1]):
        for r, (a_from, a_to) in enumerate((("0", "25"), ("25", _thousands(999999)))):
            for si, min_q in enumerate(("1", "50", "250", _thousands(1000), _thousands(20000))):
                rows.append({
                    "technique_id": t, "description": f"Technique {t}",
                    "pricing_type": ("NumberOfColours", "AreaRange", "NumberOfPositions")[ti % 3],
                    "setup": _eu(10.0 + ti * 2), "setup_repeat": _eu(5.0 + ti),
                    "next_colour_cost_indicator": "true" if ti % 2 == 0 else "false",
                    "range_id": ("", "A")[r] if ti % 3 == 1 else "", "area_from": a_from, "area_to": a_to,
                    "minimum_quantity": min_q, "price": _eu(2.5 - si * 0.4 + ti * 0.1),
                    "next_price": _eu(1.0 + ti * 0.05) if ti % 2 == 0 else "",
                })
    return rows


def _dialect_feeds(rng: np.random.Generator, n: int) -> dict[str, dict[str, list[dict]]]:
    """One product per code in every dialect, so gold holds ``n`` rows each."""
    def money(lo, hi):
        return int(rng.integers(lo, hi)) / 100

    sizes = ("XS", "S", "M", "L", "XL")
    return {
        "laltex": {
            "laltex_products": [{
                "ProductCode": f"LT{100 + i}", "ProductName": f"Laltex item {i}", "Description": f"desc {i}",
                "Brand": "BrandL", "CountryOfOrigin": ("GB", "CN")[i % 2], "Price": f"£{money(100, 900):.2f}",
                "CartonQty": str(10 * (i + 1)), "Weight": f"{0.1 * (i + 1):.2f} kg"} for i in range(n)],
            "laltex_pricebands": [{
                "ProductCode": f"LT{100 + i}", "MinQuantity": lo, "MaxQuantity": hi,
                "UnitPrice": f"£{money(100, 400):.2f}"}
                for i in range(n) for lo, hi in (("1", "49"), ("50", "249"), ("250", "N/A"))],
            "laltex_shipping": [
                {"ServiceType": "ukstandard", "ServiceName": "UK STANDARD", "CartonFrom": "1", "CartonTo": "2",
                 "ShippingCharge": "£18.85", "PerCartonCharge": "N/A"},
                {"ServiceType": "ukstandard", "ServiceName": "UK STANDARD", "CartonFrom": "3", "CartonTo": "N/A",
                 "ShippingCharge": "N/A", "PerCartonCharge": "£5.90"}],
        },
        "xd": {"xd_products": [{
            "ItemCode": f"XD{200 + i}", "ItemName": f"XD item {i}", "LongDescription": f"xd desc {i}",
            "BrandName": "XDB", "AllImages": ", ".join(f"https://x/{i}/{j}.jpg" for j in range(3)),
            "ItemDataLastModifiedDateTime": f"2025-02-{1 + i % 28:02d} 10:00:00",
            **{f"Qty{j + 1}": str(q) if j < 3 + i % 4 else None
               for j, q in enumerate((50, 100, 250, 500, 1000, 2500))},
            **{f"ItemPriceNet_Qty{j + 1}": _eu(5 - j * 0.5) if j < 3 + i % 4 else None for j in range(6)},
        } for i in range(n)]},
        "keramikos": {
            "keramikos_products": [{
                "Code": f"KM{300 + i}", "Name": f"Ceramic {i}", "Material": "Ceramic",
                "DimensionsText": f"{180 + i} x {60 + i}mm",
                "ProductSpecifications": [
                    {"SpecificationText": "Capacity", "SpecificationValue": f"{250 + 50 * (i % 5)}ml"},
                    {"SpecificationText": "Dishwasher safe", "SpecificationValue": ("Yes", "No")[i % 2]}],
            } for i in range(n)],
            "keramikos_printgrid": [{
                "Code": f"KM{300 + i}", "QuantityFrom": q, "NumberOfColours": c,
                "UnitPrice": _eu(money(100, 300))} for i in range(n) for q in ("100", "500") for c in ("1", "2")],
        },
        "pfconcept": {"pfc_products": [{
            "ItemNumber": f"PF{400 + i}", "ItemName": f"Tote {i}", "CategoryName": ("Bags", "Pens")[i % 2],
            "NetWeight": _eu(0.1 + i / 100), "PrintPriceNet_25": _eu(money(100, 150)),
            "PrintPriceNet_50": _eu(1.0), "PrintPriceNet_100": _eu(0.8),
            "PrintPriceNet_250": None if i % 3 == 0 else _eu(0.6), "PrintPriceNet_1000": _eu(0.4),
            "PrintPriceNet_10000": _eu(0.25)} for i in range(n)]},
        "sanmar": {"sanmar_skus": [{
            "StyleNumber": f"ST{500 + i}", "StyleName": f"Tee {i}", "Brand": "BrandS",
            "ColorName": ("Black", "White")[k % 2], "SizeName": sizes[k % len(sizes)],
            "SkuID": f"ST{500 + i}-{k}", "PiecePrice": f"{money(300, 1000):.2f}", "CaseQty": "72",
            "lastChangeDate": f"2023-{1 + k % 12:02d}-05 12:00:00"} for i in range(n) for k in range(3)]},
        "ralawise": {
            "ralawise_products": [{
                "ProductCode": f"RW{600 + i}", "ProductTitle": f"Hoodie {i}", "Brand": "BrandR",
                "Colour": ("Navy", "Black")[i % 2], "Size": sizes[i % len(sizes)]} for i in range(n)],
            "ralawise_stock": [{
                "ProductCode": f"RW{600 + i}", "LocationCode": loc, "LocationName": name,
                "FreeStock": _thousands(int(rng.integers(0, 5000)))}
                for i in range(n) for loc, name in (("MAN", "Manchester"), ("LON", "London"))],
        },
        "ss": {"ss_products": [{
            "StyleID": f"S{700 + i}", "StyleName": f"Tee {i}", "BrandName": "BrandX",
            "PiecePrice": f"{money(200, 600):.2f}", "DozenPrice": None if i % 4 == 0 else "40.20",
            "CasePrice": None if i % 4 == 0 else "150.00", "CaseSize": "72"} for i in range(n)]},
        "preseli": {"preseli_products": [{
            "Ref": f"P{800 + i}", "Name": f"Badge {i}", "Category": "Badges",
            "PriceGBP": None if i % 5 == 1 else _eu(money(50, 200)), "PriceEUR": _eu(money(50, 200)),
            "PriceUSD": None if i % 2 else _eu(money(50, 200)), "LeadTimeDays": str(5 + i % 10)}
            for i in range(n)]},
    }


def _arrow_type(dt) -> pa.DataType:
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return pa.struct([pa.field(f.name, _arrow_type(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    return {T.StringType: pa.string(), T.LongType: pa.int64(), T.IntegerType: pa.int32(),
            T.DoubleType: pa.float64(), T.BooleanType: pa.bool_()}[type(dt)]


def _land(feeds_dir: str, supplier: str, feeds: dict[str, list[dict]]) -> None:
    from pim_etl_spark.pipeline import registry

    schemas = registry.get_supplier(supplier).feed_schemas
    out = os.path.join(feeds_dir, supplier)
    os.makedirs(out, exist_ok=True)
    for name, rows in feeds.items():
        schema = pa.schema([pa.field(f.name, _arrow_type(f.dataType)) for f in schemas[name].fields])
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(out, f"{name}.parquet"))


def _midocean(masters: list[Master]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {"mo_printprices": _printprices()}
    for s in masters:
        for name, rows in _master_rows(s).items():
            out.setdefault(name, []).extend(rows)
    return out


class PimFeeds:
    """Base feeds plus ``rounds`` delta rounds, all from one seed."""

    def __init__(self, seed: int, n_masters: int, rounds: int, new_per_round: int = 3):
        rng = np.random.default_rng([seed, n_masters, rounds])
        self.masters = [_new_master(rng, m) for m in range(n_masters)]
        self.base = {"midocean": _midocean(self.masters), **_dialect_feeds(rng, DIALECT_PRODUCTS)}
        counts = {s: DIALECT_PRODUCTS for s in self.base if s != "midocean"}
        self.rounds: list[tuple[Round, dict]] = []
        n_changed = max(1, round(0.01 * n_masters))
        for _ in range(rounds):
            touched = sorted(int(i) for i in rng.choice(len(self.masters), n_changed, replace=False))
            for i in touched:
                s = self.masters[i]
                kind = rng.integers(0, 3)
                if kind == 0:
                    s.cents = [None if c is None else int(rng.integers(150, 3000)) for c in s.cents]
                    s.cents[0] = int(rng.integers(150, 3000))
                elif kind == 1:
                    s.qty = [int(q) for q in rng.integers(0, 20000, s.n_var)]
                else:
                    s.discontinued = not s.discontinued
            for _ in range(new_per_round):
                self.masters.append(_new_master(rng, len(self.masters)))
                touched.append(len(self.masters) - 1)
            rnd = Round(touched)
            rnd.expected_counts = {"midocean": len(self.masters), **counts}
            rnd.expected_values = {f"midocean_{self.masters[i].code}": self.masters[i].expected() for i in touched}
            self.rounds.append((rnd, _midocean([self.masters[i] for i in touched])))
        self.base_counts = {"midocean": n_masters, **counts}

    def land(self, root: str) -> None:
        """Write the base feeds to ``<root>/base`` and round r's delta
        feeds to ``<root>/delta<r>``."""
        self.base_dir = os.path.join(root, "base")
        for supplier, feeds in self.base.items():
            _land(self.base_dir, supplier, feeds)
        for r, (rnd, delta) in enumerate(self.rounds, 1):
            rnd.feeds_dir = os.path.join(root, f"delta{r}")
            _land(rnd.feeds_dir, "midocean", delta)
