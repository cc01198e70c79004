"""Seeded input generators and the pure-Python models of what the
program must produce from them.

Everything here is a function of the workload seed alone. The program
under test only ever sees the files these functions write; the models
are computed from the same Python values, never from program output.

- Landmark CSV objects with the reference's quirks: quoted fields with
  embedded commas, WKT ``MULTIPOLYGON`` geometry, ``MM/dd/yyyy
  hh:mm:ss a Z`` dates and a ``{"schema": [...]}`` sidecar whose
  ``partition_key`` values are strings.
- Silver correction batches for the upsert workload, plus the
  last-write-wins model of the table after each batch.
"""

from __future__ import annotations

import collections
import datetime as dt
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# landmarks
# ---------------------------------------------------------------------------

LANDMARK_COLUMNS = [
    "OBJECTID", "the_geom", "LP_NUMBER", "BOROUGH", "CHANGED_LP", "RELATED_LP",
    "CURRENT_", "AREA_NAME", "OTHER_NAME", "EXTENSION", "STATUS_OF_",
    "LAST_ACTIO", "BOUNDARY_N", "DESIG_DATE", "PUBLIC_HEA", "CALEN_DATE",
    "OTHER_HEAR", "OTHER_NOTE", "SURVEY_NAM", "SURVEY_DAT", "Shape_area",
    "Shape_len", "Borough1", "LPNUM_TRIM", "Report_URL", "Image_URL",
    "LM_Type", "WebDes_Dte",
]
BOROUGHS = ["MN", "BK", "QN", "BX", "SI"]
BOROUGH_WEIGHTS = [0.40, 0.25, 0.16, 0.12, 0.07]
_NAME_WORDS = [
    "Park", "Slope", "Fort", "Greene", "Hall", "Church", "Tower", "Bank",
    "Library", "Theater", "Bridge", "Court", "House", "Row", "Terrace",
]
_NOTES = ["", "", "", "see also, interior", "calendared, heard, designated"]
# Offsets other than +0000 move some designations across a year
# boundary once parsed in UTC, which the year model must reproduce.
_TZ = ["+0000", "+0000", "+0000", "-0500"]


def sidecar_doc() -> dict:
    """The ``{"schema": [...]}`` sidecar: every column a string, the
    partition flag a *string* as in the reference fixture."""
    return {
        "schema": [
            {
                "key": c,
                "type": "string",
                "partition_key": "true" if c == "BOROUGH" else "false",
                "comment": "",
            }
            for c in LANDMARK_COLUMNS
        ]
    }


def _fmt_date(y: int, mo: int, d: int, h: int, tz: str) -> str:
    ampm = "AM" if h < 12 else "PM"
    h12 = h % 12 or 12
    return f"{mo:02d}/{d:02d}/{y:04d} {h12:02d}:00:00 {ampm} {tz}"


def _utc_year(y: int, mo: int, d: int, h: int, tz: str) -> int:
    sign = 1 if tz[0] == "+" else -1
    off = dt.timedelta(hours=int(tz[1:3]), minutes=int(tz[3:5])) * sign
    return (dt.datetime(y, mo, d, h) - off).year


def _geometries(rng: np.random.Generator, n_rows: int) -> list[str]:
    """Closed-ring MULTIPOLYGONs, 4 to 2000 vertices a ring with a heavy
    tail (most parcels are simple, a few are long ragged outlines). One
    row in ten has a second polygon and one in twenty a polygon with a
    hole. Vertices are drawn from a pool of pre-formatted points: the
    program's cost depends on the text, not on whether a ring is simple."""
    pool_x = -74.25 + rng.random(1 << 16) * 0.55
    pool_y = 40.49 + rng.random(1 << 16) * 0.42
    pool = [f"{x:.7f} {y:.7f}" for x, y in zip(pool_x.tolist(), pool_y.tolist())]
    verts = np.minimum(4 + (rng.pareto(1.5, n_rows) * 4).astype(np.int64), 2000)
    # rings per polygon for each row: [1], [1, 1] or [2]
    shapes = ([1], [1, 1], [2])
    shape = rng.choice(3, n_rows, p=[0.85, 0.10, 0.05]).tolist()
    pick = rng.integers(0, len(pool), int(verts.sum()) * 2).tolist()
    out: list[str] = []
    pos = 0
    for n, k in zip(verts.tolist(), shape):
        polys = []
        for n_rings in shapes[k]:
            rings = []
            for _ in range(n_rings):
                pts = [pool[i] for i in pick[pos : pos + n]]
                pos += n
                rings.append("(" + ", ".join(pts) + ", " + pts[0] + ")")
            polys.append("(" + ", ".join(rings) + ")")
        out.append("MULTIPOLYGON (" + ", ".join(polys) + ")")
    return out


def _csv_field(v: str) -> str:
    return '"' + v.replace('"', '""') + '"' if ("," in v or '"' in v) else v


def colon_encode(wkt: str) -> str:
    """Model of ``functions.geometry.wkt_colon_encode``."""
    inner = wkt[wkt.index("(((") + 3 : wkt.rindex(")))")]
    return (
        inner.replace(")), ((", "::::")
        .replace("), (", ":::")
        .replace(", ", "::")
        .replace(" ", ":")
    )


class LandmarkObject:
    """One CSV drop plus its model: per-borough counts, the
    designation-year histogram, (area, LP_NUMBER, name, borough) rows
    for the largest-landmarks query and a crc32 sum of the encoded
    geometry per borough."""

    def __init__(self, csv_path: str, sidecar_path: str) -> None:
        self.csv_path = csv_path
        self.sidecar_path = sidecar_path
        self.bytes = 0
        self.boroughs: collections.Counter = collections.Counter()
        self.years: collections.Counter = collections.Counter()
        self.geom_crc: collections.Counter = collections.Counter()
        self.top: list[tuple[float, str, str, str]] = []


def write_landmark_object(
    rng: np.random.Generator, obj_id: int, n_rows: int, out_dir: str
) -> LandmarkObject:
    name = f"landmarks_{obj_id:05d}"
    csv_path = os.path.join(out_dir, f"{name}.csv")
    sidecar_dir = os.path.join(out_dir, "schemas")
    os.makedirs(sidecar_dir, exist_ok=True)
    sidecar_path = os.path.join(sidecar_dir, f"{name}.json")
    with open(sidecar_path, "w") as f:
        json.dump(sidecar_doc(), f)
    obj = LandmarkObject(csv_path, sidecar_path)

    boro = rng.choice(len(BOROUGHS), n_rows, p=BOROUGH_WEIGHTS).tolist()
    geoms = _geometries(rng, n_rows)
    has_date = (rng.random(n_rows) >= 0.1).tolist()
    years = rng.integers(1965, 2024, n_rows).tolist()
    months = rng.integers(1, 13, n_rows).tolist()
    days = rng.integers(1, 29, n_rows).tolist()
    hours = rng.integers(0, 24, n_rows).tolist()
    tzs = rng.integers(0, len(_TZ), n_rows).tolist()
    areas = rng.uniform(100.0, 5e6, n_rows).tolist()
    words = rng.integers(0, len(_NAME_WORDS), (n_rows, 3)).tolist()
    notes = rng.integers(0, len(_NOTES), n_rows).tolist()
    top: list[tuple[float, str, str, str]] = []
    with open(csv_path, "w") as f:
        f.write(",".join(LANDMARK_COLUMNS) + "\n")
        for i in range(n_rows):
            b = BOROUGHS[boro[i]]
            lp = f"LP-{obj_id:05d}-{i:06d}"
            area_name = "{} {}, {} Historic District".format(
                *(_NAME_WORDS[k] for k in words[i])
            )
            geom = geoms[i]
            y, mo, d, h, tz = years[i], months[i], days[i], hours[i], _TZ[tzs[i]]
            desig = _fmt_date(y, mo, d, h, tz) if has_date[i] else ""
            area = f"{areas[i]:.6f}"
            row = [
                str(obj_id * 1_000_000 + i), geom, lp, b, "", "", "Yes",
                area_name, "", "", "DESIGNATED", "DESIGNATED", "Individual",
                desig, desig, desig, "", _NOTES[notes[i]], "", "", area,
                f"{areas[i] ** 0.5 * 4:.6f}", b, lp[3:],
                f"http://example.org/{lp}.pdf", f"http://example.org/{lp}.jpg",
                "Historic District", desig,
            ]
            f.write(",".join(map(_csv_field, row)) + "\n")
            obj.boroughs[b] += 1
            if desig:
                obj.years[_utc_year(y, mo, d, h, tz)] += 1
            obj.geom_crc[b] += zlib.crc32(colon_encode(geom).encode())
            top.append((float(area), lp, area_name, b))
    top.sort(key=lambda r: (-r[0], r[1]))
    obj.top = top[:10]
    obj.bytes = os.path.getsize(csv_path)
    return obj


def landmark_stream(seed: int, out_dir: str, sizes: list[int]):
    """One cycle of objects with ``sizes`` rows each. The ingest
    workload replays the cycle, each replay landing under a fresh
    silver partition."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    return [write_landmark_object(rng, i, n, out_dir) for i, n in enumerate(sizes)]


# ---------------------------------------------------------------------------
# silver correction batches
# ---------------------------------------------------------------------------

SILVER_SCHEMA = pa.schema([
    ("LP_NUMBER", pa.string()),
    ("BOROUGH", pa.string()),
    ("AREA_NAME", pa.string()),
    ("DESIG_YEAR", pa.int32()),
    ("Shape_area", pa.float64()),
    ("rev", pa.int64()),
])


def _silver_rows(rng, keys: np.ndarray, rev: int) -> dict:
    n = len(keys)
    return {
        "LP_NUMBER": [f"LP-{k:08d}" for k in keys.tolist()],
        "BOROUGH": [BOROUGHS[i] for i in rng.choice(5, n, p=BOROUGH_WEIGHTS)],
        "AREA_NAME": [
            f"{_NAME_WORDS[i]}, rev {rev}" for i in rng.integers(0, 15, n)
        ],
        "DESIG_YEAR": rng.integers(1965, 2024, n).astype(np.int32),
        "Shape_area": np.round(rng.uniform(100.0, 5e6, n), 3),
        "rev": np.full(n, rev, dtype=np.int64),
    }


#: columns whose text the table checksum covers (not the double, whose
#: string form differs between the JVM and Python)
CHECKSUM_COLS = ["LP_NUMBER", "BOROUGH", "AREA_NAME", "DESIG_YEAR", "rev"]


class UpsertModel:
    """Last-write-wins model of the silver table: key → row tuple, and
    rows per borough."""

    def __init__(self) -> None:
        self.rows: dict[str, tuple] = {}
        self.boroughs: collections.Counter = collections.Counter()

    def apply(self, table: pa.Table) -> None:
        for r in zip(*(table.column(c).to_pylist() for c in SILVER_SCHEMA.names)):
            old = self.rows.get(r[0])
            if old is not None:
                self.boroughs[old[1]] -= 1
            self.boroughs[r[1]] += 1
            self.rows[r[0]] = r

    def checksum(self) -> tuple[int, int]:
        idx = [SILVER_SCHEMA.names.index(c) for c in CHECKSUM_COLS]
        total = sum(
            zlib.crc32("|".join(str(r[i]) for i in idx).encode())
            for r in self.rows.values()
        )
        return len(self.rows), total


def silver_base(seed: int, n_rows: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    keys = np.arange(n_rows, dtype=np.int64)
    return pa.table(_silver_rows(rng, keys, 0), schema=SILVER_SCHEMA)


def correction_batches(
    seed: int, n_base: int, n_batches: int, batch_rows: int, insert_share: float
) -> list[pa.Table]:
    """Batch k (rev k+1): ``batch_rows`` distinct keys, ``insert_share``
    of them new, the rest updates drawn with a bias towards the most
    recently inserted keys."""
    rng = np.random.default_rng([seed, 3])
    next_key = n_base
    out = []
    for k in range(n_batches):
        n_ins = int(batch_rows * insert_share)
        ins = np.arange(next_key, next_key + n_ins, dtype=np.int64)
        next_key += n_ins
        # recency skew: key = newest - |exponential|, so recent keys are hot
        upd: set[int] = set()
        while len(upd) < batch_rows - n_ins:
            back = int(rng.exponential(n_base / 8))
            upd.add(max(0, next_key - n_ins - 1 - back))
        keys = np.concatenate([np.array(sorted(upd), dtype=np.int64), ins])
        out.append(pa.table(_silver_rows(rng, keys, k + 1), schema=SILVER_SCHEMA))
    return out


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
