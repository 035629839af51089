"""Seeded generator of raw scraped marketplace batches.

Writes files shaped like the pipeline's inputs (``tests/fixtures``): Avito
ads as NDJSON with corrupt lines, Jumia and Electroplanet products as JSON
arrays, or every source as NDJSON for the per-day drops a streaming drain
picks up.  The data keeps the dirt the fixtures exercise:

- sentinel and typo brands (``"NULL"`` with a title fallback, ``samsng``),
  missing Avito urls rebuilt from the ad id, null Jumia brands;
- plain, European (``4.500,00``), thousands-separator (``13,875 DH``) and
  Anglo (``1,200.50 MAD``) prices, plus unparseable ones that clean to 0;
- intra-source duplicate offers (same product, url and price, scraped
  again) and, across days, re-listings of earlier offers;
- cross-source product overlap: every source draws from one skewed catalog.

Every count the checks need is known by construction and returned in
:class:`SourceCounts`: records written, valid, corrupt and duplicate
records, and the price aggregates over the surviving offers.  A
non-duplicate record always gets a url no other record has, so the
merge's offer dedup key ``(product_id, source, url, price)`` collapses
exactly the planted duplicates and nothing else.
"""

from __future__ import annotations

import json
import math
import random
from dataclasses import dataclass, field
from pathlib import Path

SOURCES = ("avito", "jumia", "electroplanet")

# File names the batch discovery and the streaming globs both match
# (``config.SOURCE_PATTERNS`` and the ``*avito*``-style stream globs).
FILE_NAMES = {
    "avito": "avito_ads.json",
    "jumia": "jumia_products.json",
    "electroplanet": "electroplanet_data.json",
}

# Source mix of one batch, roughly the reference scrape's proportions.
SOURCE_SHARE = {"avito": 0.5, "jumia": 0.3, "electroplanet": 0.2}

CORRUPT_RATE = 0.01
DUP_RATE = 0.03
UNPRICED_RATE = 0.02

# (brand, model, base price in MAD) — one catalog shared by all sources.
_MODELS = {
    "Samsung": ["S24 Ultra", "S23 FE", "A54", "A34", "A15", "Z Flip5", "M14", "S21"],
    "Apple": ["iPhone 15 Pro", "iPhone 14", "iPhone 13", "iPhone 12 Mini", "iPhone 11"],
    "Xiaomi": ["Redmi Note 12", "Redmi 13C", "Poco X6", "13T Pro", "Redmi A2"],
    "Oppo": ["Reno 10", "A78", "A58", "Find X6"],
    "Realme": ["C55", "11 Pro", "C53", "GT3"],
    "Huawei": ["Nova 11", "P60 Pro", "Y90"],
    "Tecno": ["Spark 20", "Camon 20", "Pova 5"],
    "Infinix": ["Hot 40", "Note 30", "Smart 8"],
    "Honor": ["X8b", "90 Lite", "Magic5"],
    "Nokia": ["G22", "C32"],
}
_STORAGE = (64, 128, 256, 512)
_COLORS = ("Noir", "Bleu", "Vert", "Blanc", "Violet")
_CITIES = (("Casablanca", "Maarif"), ("Rabat", "Agdal"), ("Fès", None), ("Marrakech", "Gueliz"),
           ("Tanger", "Centre"), ("Agadir", None))
_CONDITIONS = ("NEUF", "comme neuf", "bon état", "Bon", "moyen", "reconditionné", None)
# Brand-field renderings that map to the canonical brand (incl. the typo).
_BRAND_SPELLINGS = {"Samsung": ("SAMSUNG", "Samsung", "samsng")}


def _catalog() -> list[tuple[str, str, int, int]]:
    out = []
    for bi, (brand, models) in enumerate(_MODELS.items()):
        for mi, model in enumerate(models):
            for si, storage in enumerate(_STORAGE[: 2 + (mi % 3)]):
                base = 900 + 400 * ((bi * 7 + mi * 3) % 23) + 350 * si
                out.append((brand, model, storage, base))
    return out


CATALOG = _catalog()


@dataclass
class SourceCounts:
    """What one source's generated file(s) hold, known by construction."""

    records: int = 0      # lines (NDJSON) or array elements written
    corrupt: int = 0      # lines that are not valid JSON
    duplicates: int = 0   # valid records that repeat an earlier offer
    bytes: int = 0
    prices: list = field(default_factory=list)  # price of every surviving offer

    @property
    def valid(self) -> int:
        return self.records - self.corrupt

    @property
    def offers(self) -> int:
        return self.valid - self.duplicates

    def add(self, other: "SourceCounts") -> None:
        self.records += other.records
        self.corrupt += other.corrupt
        self.duplicates += other.duplicates
        self.bytes += other.bytes
        self.prices += other.prices

    def summary(self) -> dict:
        priced = [p for p in self.prices if p > 0]
        return {
            "records": self.records,
            "valid": self.valid,
            "corrupt": self.corrupt,
            "duplicates": self.duplicates,
            "offers": self.offers,
            "priced_offers": len(priced),
            "price_sum": math.fsum(priced),
            "price_min": min(priced) if priced else None,
            "price_max": max(priced) if priced else None,
        }


def totals(counts: dict[str, SourceCounts]) -> dict:
    """Merged expectations over all sources: offers per source and the
    price aggregates ``dataset_statistics`` must reproduce."""
    allc = SourceCounts()
    for c in counts.values():
        allc.add(c)
    s = allc.summary()
    s["per_source_offers"] = {src: c.offers for src, c in counts.items()}
    s["avg_price"] = s["price_sum"] / s["priced_offers"] if s["priced_offers"] else None
    return s


def _fmt_price(rng: random.Random, value: float) -> str:
    """Render ``value`` in one of the scraped formats ``clean_price`` parses
    back to exactly ``value``.  Separator formats need a thousands group,
    so they are only drawn for values of 1000 or more."""
    whole, cents = divmod(round(value * 100), 100)
    kind = rng.randrange(4) if whole >= 1000 else 0
    if kind == 1:  # European: 4.500,00
        return f"{whole:,}".replace(",", ".") + f",{cents:02d}"
    if kind == 2 and cents == 0:  # thousands separator: 13,875 DH
        return f"{whole:,} DH"
    if kind in (2, 3):  # Anglo: 1,200.50 MAD
        return f"{whole:,}.{cents:02d} MAD"
    return f"{whole} DH" if cents == 0 else f"{whole}.{cents:02d} DH"


class RawGenerator:
    """Stateful so successive batches (stream days) keep ids unique and can
    re-list earlier offers."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 1_000_000
        self.pool: dict[str, list[dict]] = {s: [] for s in SOURCES}
        # Zipf-like popularity: a few products carry most offers, like the
        # reference scrape (one product held 995 of 25,558 offers).
        self.weights = [1.0 / (i + 1) ** 0.9 for i in range(len(CATALOG))]
        self.rng.shuffle(self.weights)

    def _product(self):
        return self.rng.choices(CATALOG, weights=self.weights)[0]

    def _price(self, base: int) -> float:
        if self.rng.random() < UNPRICED_RATE:
            return 0.0
        cents = self.rng.choice((0, 0, 0, 50, 99))
        # integer cents over 100 is the double nearest the decimal string,
        # i.e. exactly what clean_price parses the rendered price back to
        return (round(base * self.rng.uniform(0.7, 1.3)) * 100 + cents) / 100

    def _stamp(self, day: int) -> str:
        s = self.rng.randrange(86_400)
        return f"2025-12-{1 + day:02d}T{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}Z"

    def _avito(self, rid: int, day: int) -> tuple[dict, float]:
        brand, model, storage, base = self._product()
        price = self._price(base)
        r = self.rng.random()
        title = f"{brand} {model} - {storage} GB"
        if r < 0.05:  # sentinel brand: the adapter falls back to the title
            brand_field = "NULL"
        elif brand in _BRAND_SPELLINGS:
            brand_field = self.rng.choice(_BRAND_SPELLINGS[brand])
        else:
            brand_field = brand.upper() if r < 0.5 else brand
        city, area = self.rng.choice(_CITIES)
        rec = {
            "ad_id": str(rid),
            "title": title,
            "description": self.rng.choice((None, "Téléphone neuf scellé", "très bon état")),
            "price": _fmt_price(self.rng, price) if price > 0 else "Prix à discuter",
            "city": city,
            "area": area,
            "seller_type": self.rng.choice(("STORE", "PRIVATE", None)),
            "seller_name": self.rng.choice(("Phone Store", "Ali", None)),
            "category": "Smartphone",
            # 5% lose the url; the adapter rebuilds it from the (unique) ad id
            "url": None if self.rng.random() < 0.05 else f"https://www.avito.ma/vi/{rid}.htm",
            "list_time": self._stamp(day),
            "brand": brand_field,
            "model": model.upper() if self.rng.random() < 0.7 else None,
            "storage": f"{storage}GB",
            "ram": self.rng.choice(("4GB", "8GB", "12GB", None)),
            "battery_health": self.rng.choice(("100%", "95%", None)),
            "color": self.rng.choice(_COLORS),
            "condition": self.rng.choice(_CONDITIONS),
        }
        return rec, price

    def _jumia(self, rid: int, day: int) -> tuple[dict, float]:
        brand, model, storage, base = self._product()
        price = self._price(base)
        rating = self.rng.choice((None, "4.5 out of 5", "4/5", "3.8 out of 5"))
        rec = {
            "title": f"{brand} {model} {storage}Go",
            "brand": None if self.rng.random() < 0.03 else brand,
            "price": _fmt_price(self.rng, price) if price > 0 else "Prix non communiqué",
            "old_price": _fmt_price(self.rng, price * 1.1 + 1) if price > 0 else None,
            "rating": rating,
            "reviews_count_text": (f"({self.rng.randrange(1, 300)} avis vérifiés)"
                                   if rating else None),
            "product_url": f"https://www.jumia.ma/p{rid}",
            "scraped_at": self._stamp(day),
            "description": self.rng.choice((None, 'écran 6.8" incroyable', 'écran 6.1" AMOLED')),
            "specs": None if self.rng.random() < 0.3 else {
                "RAM": self.rng.choice(("4 Go", "8 Go", "12 Go")),
                "Stockage interne": f"{storage} Go",
            },
        }
        return rec, price

    def _electroplanet(self, rid: int, day: int) -> tuple[dict, float]:
        brand, model, storage, base = self._product()
        price = self._price(base)
        specs = {"Modèle": model, "Capacité de stockage interne": f"{storage} GB",
                 "Marque": brand}
        if self.rng.random() < 0.5:
            specs["Capacité de la RAM"] = self.rng.choice(("6 GB", "8 GB", "12 GB"))
        rec = {
            "name": f"{brand} {model} {storage}GB {self.rng.choice(_COLORS)}".upper(),
            "brand": brand.upper(),
            "price": _fmt_price(self.rng, price) if price > 0 else "",
            "old_price": None if self.rng.random() < 0.5 else _fmt_price(self.rng, price + 500),
            "product_url": f"https://www.electroplanet.ma/p{rid}",
            "scraped_at": self._stamp(day),
            "detailed_scraped_at": None if self.rng.random() < 0.3 else self._stamp(day),
            "specifications": specs,
            "reviews_summary": {
                "average_rating": (None if self.rng.random() < 0.4
                                   else round(self.rng.uniform(3, 5), 1)),
                "total_reviews": self.rng.randrange(0, 50),
            },
            "is_promotion": self.rng.random() < 0.3,
        }
        return rec, price

    def _relist(self, source: str, day: int) -> dict:
        """A duplicate offer: an earlier record scraped again later — same
        product, url and price, only the scrape time moves."""
        rec = dict(self.rng.choice(self.pool[source]))
        key = "list_time" if source == "avito" else "scraped_at"
        rec[key] = self._stamp(day)
        return rec

    def write_source(self, path: Path, source: str, n: int, day: int, ndjson: bool) -> SourceCounts:
        make = getattr(self, f"_{source}")
        c = SourceCounts()
        lines: list[str] = []
        for _ in range(n):
            if ndjson and self.rng.random() < CORRUPT_RATE:
                lines.append('{"title": "Samsung Galaxy", "price": 12')  # truncated scrape
                c.corrupt += 1
            elif self.pool[source] and self.rng.random() < DUP_RATE:
                lines.append(json.dumps(self._relist(source, day), ensure_ascii=False))
                c.duplicates += 1
            else:
                self.next_id += 1
                rec, price = make(self.next_id, day)
                self.pool[source].append(rec)
                c.prices.append(price)
                lines.append(json.dumps(rec, ensure_ascii=False))
        c.records = len(lines)
        text = "\n".join(lines) + "\n" if ndjson else "[\n" + ",\n".join(lines) + "\n]\n"
        data = text.encode("utf-8")
        path.write_bytes(data)
        c.bytes = len(data)
        return c

    def batch(self, out_dir: Path, n_records: int, day: int = 0, ndjson_all: bool = False,
              prefix: str = "") -> dict[str, SourceCounts]:
        """One scrape: Avito as NDJSON, the others as JSON arrays (or every
        source as NDJSON with ``ndjson_all``), ``n_records`` records in all."""
        out_dir.mkdir(parents=True, exist_ok=True)
        counts = {}
        for src in SOURCES:
            n = max(1, round(n_records * SOURCE_SHARE[src]))
            ndjson = ndjson_all or src == "avito"
            path = out_dir / f"{prefix}{FILE_NAMES[src]}"
            counts[src] = self.write_source(path, src, n, day, ndjson)
        return counts
