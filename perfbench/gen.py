"""Seeded input generator and ground-truth model for the engine-verb benchmark.

Everything the engine sees is written here: the dimension tables
(``country``, ``tag``), the preloaded target table, and one CSV (plus one
media ZIP for a media upsert) per request. Alongside each request the
generator returns what the engine must answer: expected created/updated/
invalid counters, the exact validation error strings, and the stored row
of every valid input row. :class:`TableModel` holds the table as the
benchmark expects it after every committed import, so exports are
checked against it too.

Request ``i`` of a workload depends only on ``(seed, workload, i)`` and
on the model state left by requests ``0..i-1``, so the same seed gives
the same request stream whatever the run length.
"""

from __future__ import annotations

import csv
import os
import random
import re
import zipfile
from dataclasses import dataclass, field

CT_ITEM = "item"      # import_small: no media fields
CT_ASSET = "asset"    # export_mixed: item + two media fields
MEDIA_FIELDS = ("reports", "challan_docs")
MATCH_FIELD = "sku"
STATUSES = ["draft", "active", "archived"]

_ITEM_ATTRS = {
    "id": {"type": "integer", "required": True, "unique": True},
    "name": {"type": "string", "required": True},
    "sku": {"type": "string"},
    "price": {"type": "float"},
    "in_stock": {"type": "boolean"},
    "released_at": {"type": "datetime"},
    "contact": {"type": "email"},
    "status": {"type": "enumeration", "enum": STATUSES},
    "qty": {"type": "integer"},
    "country": {"type": "relation", "relation": "manyToOne", "target": "country"},
    "tags": {"type": "relation", "relation": "manyToMany", "target": "tag"},
    "address": {"type": "component", "component": "shared.address"},
}

REGISTRY = {
    "contentTypes": {
        "country": {"attributes": {
            "id": {"type": "integer", "unique": True},
            "name": {"type": "string", "required": True, "unique": True},
            "code": {"type": "string", "unique": True},
        }},
        "tag": {"attributes": {
            "id": {"type": "integer", "unique": True},
            "name": {"type": "string", "required": True, "unique": True},
        }},
        CT_ITEM: {"attributes": dict(_ITEM_ATTRS)},
        CT_ASSET: {"attributes": {**_ITEM_ATTRS,
                                  **{m: {"type": "media"} for m in MEDIA_FIELDS}}},
    },
    "components": {"shared.address": {"attributes": {
        "street": {"type": "string"}, "city": {"type": "string"},
        "zip": {"type": "string"},
    }}},
}

# Stored column order of the item/asset tables (preload parquet schema and
# the model's row tuples).
ITEM_COLS = ["id", "name", "sku", "price", "in_stock", "released_at",
             "contact", "status", "qty", "country", "tags", "address"]
ASSET_COLS = ITEM_COLS + list(MEDIA_FIELDS)
CSV_HEADER = ["id", "name", "sku", "price", "in_stock", "released_at",
              "contact", "status", "qty", "country", "tags",
              "address.street", "address.city", "address.zip"]


@dataclass(frozen=True)
class Spec:
    """Sizes and mix of one workload (see perfbench/README.md)."""

    ct: str
    preload_rows: int
    request_rows: int
    existing_share: float = 0.7     # share of a file's keys already stored
    invalid_share: float = 0.03
    zip_rows: int = 0               # rows of a media upsert that get files


SPECS = {
    "import_small": Spec(CT_ITEM, preload_rows=20_000, request_rows=1_000),
    "export_mixed": Spec(CT_ASSET, preload_rows=200_000, request_rows=1_000,
                         zip_rows=100),
}

N_COUNTRIES = 250
N_TAGS = 2_000
EXPORT_PAGE = 1_000
EXPORT_FULL_LIMIT = 50_000

_SYL = ["ka", "lo", "mi", "ra", "ven", "tor", "sel", "qua", "bri", "dun",
        "fel", "gor", "hal", "jin", "mor", "nex", "pol", "rud", "sto", "tif",
        "ul", "vak", "wes", "yor", "zan", "bel", "cor", "dra", "eni", "fro"]
_ADJ = ["amber", "brisk", "calm", "dusty", "eager", "fancy", "gentle",
        "hollow", "icy", "jolly", "keen", "lucky", "mellow", "noble"]
_NOUN = ["anchor", "basin", "cable", "dial", "engine", "filter", "gasket",
         "hinge", "inlet", "joint", "knob", "lever", "motor", "nozzle"]
_CITIES = ["Arden", "Bexley", "Corvin", "Dalton", "Elmira", "Fenwick",
           "Garland", "Hollis"]
_BOOLS = [("true", True), ("false", False), ("yes", True), ("no", False),
          ("1", True), ("0", False), ("TRUE", True), ("No", False)]
_NUMERIC = re.compile(r"^\s*[+-]?(\d+(\.\d*)?)([eE][+-]?\d+)?\s*$")

# one invalid cell per invalid row: (column, bad value, message template)
_INVALID = [
    ("price", "n/a", '"price" must be a decimal number'),
    ("in_stock", "maybe", '"in_stock" must be true/false, 1/0, or yes/no'),
    ("released_at", "not-a-date", '"released_at" must be a valid date'),
    ("contact", "broken.example.com", '"contact" must be a valid email'),
    ("status", "deleted", '"status" must be one of: draft, active, archived'),
    ("qty", "many", '"qty" must be a number'),
    ("name", "", 'Required field "name" is missing'),
]


def _mixed_case(rng: random.Random, s: str) -> str:
    return "".join(c.upper() if rng.random() < 0.5 else c.lower() for c in s)


class Dim:
    """A dimension table and the reference resolve cascade over it
    (exact search field, contains search field, numeric id, exact common
    field, contains common field; first arm with a hit wins, min id within
    an arm) — the ground truth for ``operators.resolve``."""

    def __init__(self, name: str, rows: list[dict]):
        self.name = name
        self.rows = rows
        self.ids = {r["id"] for r in rows}
        self.display = {r["id"]: r["name"] for r in rows}
        self._eq: dict[str, dict[str, int]] = {}
        for fld in rows[0]:
            if fld != "id":
                m = self._eq[fld] = {}
                for r in sorted(rows, key=lambda r: -r["id"]):
                    m[r[fld].lower()] = r["id"]      # min id wins
        self._memo: dict[tuple[str, str | None], int | None] = {}

    def resolve(self, value: str, search_field: str | None = None) -> int | None:
        # every arm but the numeric one compares lowercase, and a numeric
        # value has no case, so the lowercase value is a complete memo key
        key = (value.lower(), search_field)
        if key not in self._memo:
            self._memo[key] = self._resolve(key[0], search_field)
        return self._memo[key]

    def _resolve(self, low: str, search_field: str | None) -> int | None:
        arms = [("eq", search_field), ("in", search_field)] if search_field else []
        arms += [("id", None), ("eq", "name"), ("in", "name")]
        for kind, fld in arms:
            if kind == "id":
                if _NUMERIC.match(low) and float(low) in self.ids:
                    return int(float(low))
            elif kind == "eq":
                if low in self._eq[fld]:
                    return self._eq[fld][low]
            else:
                hits = [r["id"] for r in self.rows if low in r[fld].lower()]
                if hits:
                    return min(hits)
        return None


def _unique_words(rng: random.Random, n: int, parts: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(_SYL) for _ in range(parts)).capitalize())
    return sorted(out)


def make_dims(seed: int) -> tuple[Dim, Dim]:
    rng = random.Random(f"dims-{seed}")
    cnames = _unique_words(rng, N_COUNTRIES, 3)
    rng.shuffle(cnames)
    codes: set[str] = set()
    while len(codes) < N_COUNTRIES:
        codes.add("".join(rng.choice("ABCDEFGHJKLMNPQRSTUVWXYZ") for _ in range(3)))
    countries = [{"id": i + 1, "name": n, "code": c}
                 for i, (n, c) in enumerate(zip(cnames, sorted(codes)))]
    tnames = _unique_words(rng, N_TAGS, 4)
    rng.shuffle(tnames)
    tags = [{"id": i + 1, "name": n} for i, n in enumerate(tnames)]
    return Dim("country", countries), Dim("tag", tags)


def _fk_value(rng: random.Random, dim: Dim, exact_field: str) -> str:
    """One relation cell covering every resolve tier: exact value in mixed
    case, numeric id, a fragment that only the contains arm can hit, an
    unresolvable value, or empty."""
    r = rng.random()
    row = rng.choice(dim.rows)
    if r < 0.70:
        return _mixed_case(rng, row[exact_field])
    if r < 0.82:
        return str(row["id"])
    if r < 0.92:
        name = row["name"]
        start = rng.randrange(1, len(name) - 4)
        return _mixed_case(rng, name[start:start + 4])
    if r < 0.97:
        return f"zq-none-{rng.randrange(10_000)}"
    return ""


def _sku(i: int) -> str:
    return f"SK{i:07d}"


def _random_stored(rng: random.Random, i: int, country: Dim, tag: Dim,
                   media: bool) -> tuple:
    """A preloaded row in stored form (ITEM_COLS / ASSET_COLS order)."""
    y, mo, d = rng.randrange(2015, 2025), rng.randrange(1, 13), rng.randrange(1, 29)
    row = (
        i, f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} {i}", _sku(i),
        round(rng.uniform(1, 1000), 2), rng.random() < 0.5,
        f"{y:04d}-{mo:02d}-{d:02d}T00:00:00.000Z", f"user{i}@example.com",
        rng.choice(STATUSES), rng.randrange(0, 500),
        rng.randrange(1, N_COUNTRIES + 1),
        [rng.randrange(1, N_TAGS + 1) for _ in range(rng.randrange(1, 4))],
        (f"{rng.randrange(1, 999)} Main St", rng.choice(_CITIES),
         f"{rng.randrange(10000, 99999)}"),
    )
    if media:
        row += ([rng.randrange(1, 10_000)], None)
    return row


class TableModel:
    """The target table as the benchmark expects it: id -> stored row."""

    def __init__(self, cols: list[str], rows: dict[int, tuple]):
        self.cols = cols
        self.rows = rows
        self.ids = list(rows)
        self.next_id = max(rows) + 1

    def apply_upsert(self, batch: dict[int, tuple]) -> tuple[int, int]:
        """Merge valid batch rows: batch values win unless NULL (the
        engine's coalesce merge); returns (created, updated)."""
        created = updated = 0
        for i, new in batch.items():
            old = self.rows.get(i)
            if old is None:
                self.rows[i] = new
                self.ids.append(i)
                created += 1
            else:
                self.rows[i] = tuple(n if n is not None else o for n, o in zip(new, old))
                updated += 1
        self.next_id = max(self.next_id, max(batch, default=0) + 1)
        return created, updated


@dataclass
class Request:
    """One generated request and its ground truth."""

    index: int
    kind: str        # flow | media_upsert | export_page | export_full
    csv_path: str | None = None
    zip_path: str | None = None
    csv_bytes: int = 0
    total_rows: int = 0
    header: list[str] = field(default_factory=list)
    first_ids: list[str] = field(default_factory=list)   # preview check
    errors: list[str] = field(default_factory=list)
    batch: dict[int, tuple] = field(default_factory=dict)  # valid rows, stored form
    invalid_rows: int = 0
    expect_created: int = 0
    expect_updated: int = 0
    export_filter: dict | None = None
    fk_values: int = 0               # non-empty relation values / tokens
    fk_resolved: int = 0
    fk_distinct: int = 0


class Generator:
    """Writes a workload's files under ``out_dir`` and keeps its model."""

    def __init__(self, workload: str, seed: int, out_dir: str):
        self.workload = workload
        self.spec = SPECS[workload]
        self.seed = seed
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.country, self.tag = make_dims(seed)
        self.media = self.spec.ct == CT_ASSET
        self.cols = ASSET_COLS if self.media else ITEM_COLS
        rng = random.Random(f"preload-{workload}-{seed}")
        self._preload = {
            i: _random_stored(rng, i, self.country, self.tag, self.media)
            for i in range(1, self.spec.preload_rows + 1)
        }
        self.model = TableModel(self.cols, dict(self._preload))

    # -- preload ---------------------------------------------------------
    def write_preload(self, root: str) -> None:
        """Parquet tables ``country``, ``tag`` and the target under ``root``,
        in the schema the engine's import pipeline writes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def put(name: str, table: pa.Table) -> None:
            os.makedirs(os.path.join(root, name), exist_ok=True)
            pq.write_table(table, os.path.join(root, name, "part-00000.parquet"))

        put("country", pa.Table.from_pylist(self.country.rows))
        put("tag", pa.Table.from_pylist(self.tag.rows))
        addr = pa.struct([("street", pa.string()), ("city", pa.string()),
                          ("zip", pa.string())])
        types = {"id": pa.int64(), "name": pa.string(), "sku": pa.string(),
                 "price": pa.float64(), "in_stock": pa.bool_(),
                 "released_at": pa.string(), "contact": pa.string(),
                 "status": pa.string(), "qty": pa.int64(), "country": pa.int64(),
                 "tags": pa.list_(pa.int64()), "address": addr,
                 **{m: pa.list_(pa.int64()) for m in MEDIA_FIELDS}}
        rows = list(self._preload.values())
        arrays = []
        for k, c in enumerate(self.cols):
            vals = [r[k] for r in rows]
            if c == "address":
                vals = [dict(zip(("street", "city", "zip"), v)) for v in vals]
            arrays.append(pa.array(vals, type=types[c]))
        put(self.spec.ct, pa.Table.from_arrays(arrays, names=self.cols))

    # -- requests --------------------------------------------------------
    def request(self, i: int, kind: str | None = None) -> Request:
        """Generate request ``i`` against the current model state; ``kind``
        forces the request type (warm-up sends one of each).

        export_mixed cycles through ten requests: nine exports alternating
        filtered pages and unfiltered exports, then one media upsert. A
        fixed cycle keeps the mix of every run the same, so per-run figures
        do not swing with how many slow writes happened to land in the run."""
        rng = random.Random(f"req-{self.workload}-{self.seed}-{i}")
        if kind is None:
            kind = "flow" if self.workload == "import_small" else (
                "media_upsert" if i % 10 == 9 else
                "export_page" if i % 2 == 0 else "export_full")
        if kind == "export_page":
            return Request(i, kind, export_filter={"status": rng.choice(STATUSES)})
        if kind == "export_full":
            return Request(i, kind)
        return self._import_request(rng, i, kind)

    def warm_up_kinds(self) -> list[str]:
        """The request types of the warm-up, in order."""
        if self.workload == "import_small":
            return ["flow"]
        return ["export_page", "export_full", "media_upsert", "export_page", "export_full"]

    def _import_request(self, rng: random.Random, i: int, kind: str) -> Request:
        spec = self.spec
        n = spec.request_rows
        n_old = int(n * spec.existing_share)
        keys = rng.sample(self.model.ids, n_old)
        keys += range(self.model.next_id, self.model.next_id + n - n_old)
        rng.shuffle(keys)
        code_header = i % 4 == 3   # some files resolve country by `country.code`
        header = list(CSV_HEADER)
        if code_header:
            header[header.index("country")] = "country.code"
        req = Request(i, kind, header=header, total_rows=n)
        stem = os.path.join(self.out_dir, f"req{i:05d}")
        req.csv_path = stem + ".csv"
        fk_seen: set[tuple[str, str]] = set()
        with open(req.csv_path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            for row_no, key in enumerate(keys, start=1):
                cells, stored, err = self._row(rng, key, code_header, req, fk_seen)
                w.writerow(cells)
                if row_no <= 10:
                    req.first_ids.append(cells[0])
                if err is None:
                    req.batch[key] = stored
                else:
                    req.errors.append(f"Row {row_no}: {err}")
        req.invalid_rows = len(req.errors)
        req.csv_bytes = os.path.getsize(req.csv_path)
        req.fk_distinct = len(fk_seen)
        if kind == "media_upsert":
            req.zip_path = stem + ".zip"
            self._media_zip(rng, req)
        existing = sum(1 for k in req.batch if k in self.model.rows)
        req.expect_updated = existing
        req.expect_created = len(req.batch) - existing
        return req

    def _row(self, rng: random.Random, key: int, code_header: bool,
             req: Request, fk_seen: set) -> tuple[list[str], tuple | None, str | None]:
        y, mo, d = rng.randrange(2015, 2025), rng.randrange(1, 13), rng.randrange(1, 29)
        hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
        fmt = rng.randrange(4)
        date_cell = [f"{y:04d}-{mo:02d}-{d:02d}", f"{mo}/{d}/{y:04d}",
                     f"{y:04d}-{mo:02d}-{d:02d} {hh:02d}:{mm:02d}:{ss:02d}",
                     f"{y:04d}-{mo:02d}-{d:02d}T{hh:02d}:{mm:02d}:{ss:02d}Z"][fmt]
        iso = (f"{y:04d}-{mo:02d}-{d:02d}T00:00:00.000Z" if fmt < 2 else
               f"{y:04d}-{mo:02d}-{d:02d}T{hh:02d}:{mm:02d}:{ss:02d}.000Z")
        price = "" if rng.random() < 0.02 else f"{rng.uniform(1, 1000):.2f}"
        b_cell, b_val = rng.choice(_BOOLS)
        status = rng.choice(STATUSES)
        qty = rng.randrange(0, 500)
        country = _fk_value(rng, self.country, "code" if code_header else "name")
        tags = [_fk_value(rng, self.tag, "name") for _ in range(rng.randrange(1, 4))]
        tags = [t for t in tags if t]
        street = "" if rng.random() < 0.02 else f"{rng.randrange(1, 999)} Oak Ave"
        city, zipc = rng.choice(_CITIES), f"{rng.randrange(10000, 99999)}"
        name = f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} {key}"
        cells = [str(key), name, _sku(key), price, b_cell, date_cell,
                 f"user{key}.{rng.randrange(100)}@example.com", status, str(qty),
                 country, ", ".join(tags), street, city, zipc]
        if rng.random() < self.spec.invalid_share:
            col, bad, msg = rng.choice(_INVALID)
            cells[CSV_HEADER.index(col)] = bad
            return cells, None, msg

        search = "code" if code_header else None
        cid = self.country.resolve(country, search) if country else None
        tids = [t for t in (self.tag.resolve(v) for v in tags) if t is not None]
        for fld, vals in (("country", [country] if country else []), ("tags", tags)):
            req.fk_values += len(vals)
            fk_seen.update((fld, v) for v in vals)
        req.fk_resolved += (cid is not None) + len(tids)
        stored = (key, name, _sku(key), float(price) if price else None, b_val,
                  iso, cells[6], status, qty, cid, tids or None,
                  (street or None, city, zipc))
        if self.media:
            stored += (None, None)   # filled by _media_zip for matched rows
        return cells, stored, None

    def _media_zip(self, rng: random.Random, req: Request) -> None:
        """Foldered media archive for some of the file's valid rows, plus
        keyword-routed root files and entries the hygiene filter drops.
        Ground truth follows operators.media: a file matches a row when its
        lowercase name starts with the row's lowercase sku; ids are the
        1-based rank of the entry path; matches sort by (lowercase name, id)."""
        keys = rng.sample(sorted(req.batch), min(self.spec.zip_rows, len(req.batch)))
        entries: dict[str, str | None] = {}   # entry path -> routed field
        for k in keys:
            s = _sku(k)
            entries[f"reports/{s}.pdf"] = "reports"
            entries[f"reports/{s}_01.pdf"] = "reports"
            if rng.random() < 0.5:
                entries[f"{s}_summary.pdf"] = "reports"        # keyword: summary
            if rng.random() < 0.3:
                entries[f"{s}_invoice.pdf"] = None            # payment_docs: unused
        junk = ["__MACOSX/reports/._x.pdf", ".DS_Store", "reports/._y.pdf"]
        with zipfile.ZipFile(req.zip_path, "w", zipfile.ZIP_STORED) as zf:
            for p in sorted(entries) + junk:
                zf.writestr(p, b"%PDF-1.4 " + p.encode())
        ids = {p: n for n, p in enumerate(sorted(entries), start=1)}
        lname = {p: p.rsplit("/", 1)[-1].lower() for p in entries}
        for k in keys:
            s = _sku(k).lower()
            media = []
            for fld in MEDIA_FIELDS:
                hits = sorted((lname[p], ids[p]) for p, f in entries.items()
                              if f == fld and lname[p].startswith(s))
                media.append([h[1] for h in hits] or None)
            req.batch[k] = req.batch[k][:-2] + tuple(media)

