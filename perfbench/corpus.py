"""Seeded inputs for the well workloads: well records, the PDFs that
carry them (real bytes, written by a stdlib PDF writer), the scraped
attribute table, and the rows the ``/wells`` export must hold.

The same seed gives the same records and the same bytes. The corpus
varies what the extraction path depends on: FlateDecode or plain
content streams, 1-3 pages, filler length (document size), label
variants (``Well Operator``/``Operator``, ``API #``/``Well File No.``),
DMS or decimal coordinates, and about 1 in 11 documents without
coordinates."""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import zlib

# Viewport grid: cells of 1/CELLS_PER_DEGREE degrees; the export is
# partitioned by the ``cell`` column built from these.
CELLS_PER_DEGREE = 4

_OPERATORS = [
    "OASIS PETROLEUM", "RIM OPERATING, INC.", "CONTINENTAL RESOURCES",
    "WHITING OIL AND GAS", "HESS BAKKEN LLC", "XTO ENERGY INC.",
    "MARATHON OIL CO.", "SLAWSON EXPLORATION", "NEWFIELD PRODUCTION",
    "BURLINGTON RESOURCES", "KODIAK OIL & GAS", "ZAVANNA LLC",
]
_SURNAMES = [
    "CHALMERS", "LEWIS", "FEDERAL", "JOHNSON", "HAWKEYE", "BRANDVIK",
    "ATLANTA", "KLINE", "ROLFSON", "NESSON", "ARNEGARD", "SKAR",
]
_COUNTIES = ["MCKENZIE, ND", "MOUNTRAIL, ND", "WILLIAMS, ND", "DUNN, ND"]
_JOB_TYPES = ["Stimulation", "Hydraulic Frac", "Acidizing"]
_DATUMS = ["NAD83", "WGS84", "Mean Sea Level"]
_FORMATIONS = ["Bakken", "Three Forks", "Red River", "Madison"]
_TREATMENTS = ["Sand Frac", "Acid", "Slickwater", "Hybrid"]
_UNITS = ["Barrels", "Gallons"]
_STATUSES = ["Active", "Plugged", "Inactive", "N/A"]
_WELL_TYPES = ["Oil", "Gas", "Injection", "N/A"]
_CITIES = ["Williston", "Watford City", "Tioga", "Killdeer", "N/A"]
# filler vocabulary: lower-case, no extraction label in it
_FILLER = (
    "pump casing cement tubing flowback sand rig crew valve packer "
    "string lateral bore mud bit torque choke manifold tank truck water "
    "brine gauge sensor log shift daily summary observed checked ran set "
    "pulled returned rate crude line weather site road pad location"
).split()

HEADER_FIELDS = [
    "operator", "well_name", "api", "job_type", "county_state",
    "latitude", "longitude", "datum",
]
STIM_FIELDS = [
    "date_simulated", "stimulated_formation", "type_treatment", "acid_pct",
    "lbs_proppant", "top_ft", "bottom_ft", "stimulation_stages", "volume",
    "volume_units", "max_pressure_psi", "max_treatment_rate_bbls_min",
    "details",
]
WEB_FIELDS = ["well_status", "well_type", "closest_city", "oil_badge", "gas_badge"]


# ------------------------------------------------------------------ PDF

def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def encode_pdf(pages: list[list[str]], compress: bool = False) -> bytes:
    """Minimal valid PDF: one content stream per page showing each line
    with Tj/T*, Helvetica, a real xref table and trailer."""
    objs: dict[int, bytes] = {}
    page_ids = [4 + 2 * i for i in range(len(pages))]
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>".encode()
    objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    for pid, lines in zip(page_ids, pages):
        cid = pid + 1
        objs[pid] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> /Contents {cid} 0 R >>"
        ).encode()
        body = "BT /F1 12 Tf 14 TL 72 720 Td\n"
        for j, line in enumerate(lines):
            body += ("" if j == 0 else "T*\n") + f"({_esc(line)}) Tj\n"
        stream = (body + "ET").encode("latin-1")
        filt = b""
        if compress:
            stream = zlib.compress(stream)
            filt = b"/Filter /FlateDecode "
        objs[cid] = (
            b"<< " + filt + b"/Length " + str(len(stream)).encode() + b" >>"
            b"\nstream\n" + stream + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    n_obj = max(objs) + 1
    out += f"xref\n0 {n_obj}\n".encode() + b"0000000000 65535 f \n"
    for num in range(1, n_obj):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {n_obj} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


# -------------------------------------------------------------- records

def cell_of(lat: float, lon: float) -> str:
    return f"{math.floor(lat * CELLS_PER_DEGREE)}_{math.floor(lon * CELLS_PER_DEGREE)}"


def _coordinate(rng: random.Random, lo: float, hi: float, dms: bool, hemi: str):
    """(text as printed, decimal degrees as the extraction must read it)."""
    if dms:
        deg = rng.randint(int(abs(lo)), int(abs(hi)) - 1)
        minutes = rng.randint(0, 59)
        sec = rng.randint(0, 5999) / 100
        value = deg + minutes / 60.0 + sec / 3600.0
        sign = -1 if hemi in "SW" else 1
        return f"{deg}° {minutes}' {sec:.2f}\" {hemi}", sign * value
    value = round(rng.uniform(lo, hi), 5)
    return f"{value:.5f}", value


def make_record(rng: random.Random, idx: int) -> dict:
    """One well: the values its PDF prints and the fields extraction must
    recover (None where the document has no such field)."""
    rec = {
        "pdf_name": f"W{idx:05d}.pdf",
        "operator": rng.choice(_OPERATORS),
        "well_name": f"{rng.choice(_SURNAMES)} {rng.randint(100, 9999)} "
        f"{rng.randint(1, 36)}-{rng.randint(1, 36)}H",
        "api": f"33-{rng.choice([53, 61, 105, 25]):03d}-{idx:05d}",
        "job_type": rng.choice(_JOB_TYPES),
        "county_state": rng.choice(_COUNTIES),
        "datum": rng.choice(_DATUMS),
        "date_simulated": f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/{rng.randint(2008, 2020)}",
        "stimulated_formation": rng.choice(_FORMATIONS),
        "type_treatment": rng.choice(_TREATMENTS),
        "acid_pct": float(rng.randint(0, 28)),
        "lbs_proppant": float(rng.randint(100, 9000) * 1000),
        "top_ft": float(rng.randint(8000, 11000)),
        "bottom_ft": float(rng.randint(11000, 22000)),
        "stimulation_stages": float(rng.randint(10, 60)),
        "volume": float(rng.randint(10000, 300000)),
        "volume_units": rng.choice(_UNITS),
        "max_pressure_psi": float(rng.randint(5000, 9999)),
        "max_treatment_rate_bbls_min": rng.randint(200, 900) / 10,
        "details": "\n".join(
            " ".join(rng.choice(_FILLER) for _ in range(6))
            for _ in range(rng.randint(1, 3))
        ),
        "_label_operator": rng.choice(["Well Operator", "Operator"]),
        "_label_api": rng.choice(["API #", "Well File No."]),
        "_compress": rng.random() < 0.5,
        "_pages": rng.randint(1, 3),
        "_filler_lines": rng.randint(5, 120),
        "_filler_seed": rng.getrandbits(32),
    }
    if rng.randrange(11) == 0:
        rec["_lat_txt"] = rec["_lon_txt"] = None
        rec["latitude"] = rec["longitude"] = None
    else:
        dms = rng.random() < 0.5
        rec["_lat_txt"], rec["latitude"] = _coordinate(rng, 47.0, 49.0, dms, "N")
        if dms:
            rec["_lon_txt"], rec["longitude"] = _coordinate(rng, 102.0, 104.0, True, "W")
        else:
            rec["_lon_txt"], rec["longitude"] = _coordinate(rng, -104.0, -102.0, False, "")
    return rec


def document_lines(rec: dict) -> list[list[str]]:
    """The record laid out as PDF pages: the labelled fields first, then
    filler spread over the remaining pages."""
    lines = [
        f"{rec['_label_operator']}: {rec['operator']}",
        f"Well Name: {rec['well_name']}",
        f"{rec['_label_api']} {rec['api']}",
        f"Job Type: {rec['job_type']}",
        f"County, State: {rec['county_state']}",
    ]
    if rec["_lat_txt"] is not None:
        lines += [f"Latitude: {rec['_lat_txt']}", f"Longitude: {rec['_lon_txt']}"]
    lines += [f"Datum: {rec['datum']}"]

    def num(v: float) -> str:
        return f"{int(v):,}" if v == int(v) else str(v)

    for label, key in [
        ("Date Stimulated", "date_simulated"),
        ("Stimulated Formation", "stimulated_formation"),
        ("Type Treatment", "type_treatment"),
        ("Acid %", "acid_pct"),
        ("Lbs Proppant", "lbs_proppant"),
        ("Top (Ft)", "top_ft"),
        ("Bottom (Ft)", "bottom_ft"),
        ("Stimulation Stages", "stimulation_stages"),
        ("Volume", "volume"),
        ("Volume Units", "volume_units"),
        ("Maximum Treatment Pressure (PSI)", "max_pressure_psi"),
        ("Maximum Treatment Rate (BBLS/Min)", "max_treatment_rate_bbls_min"),
    ]:
        v = rec[key]
        lines += [label, num(v) if isinstance(v, float) else v]
    lines += ["Details", *rec["details"].split("\n"), "----------"]
    frng = random.Random(rec["_filler_seed"])
    filler = [
        " ".join(frng.choice(_FILLER) for _ in range(12))
        for _ in range(rec["_filler_lines"])
    ]
    pages = [lines]
    per_page = math.ceil(len(filler) / rec["_pages"])
    for p in range(rec["_pages"]):
        chunk = filler[p * per_page : (p + 1) * per_page]
        if p == 0:
            pages[0] = lines + chunk
        else:
            pages.append(chunk or ["end of report"])
    return pages


def web_row(rng: random.Random, rec: dict) -> dict:
    """The scraped attributes of one well (``N/A`` is the scraper's
    missing-value sentinel)."""
    return {
        "well_name": rec["well_name"],
        "api": rec["api"],
        "well_status": rng.choice(_STATUSES),
        "well_type": rng.choice(_WELL_TYPES),
        "closest_city": rng.choice(_CITIES),
        "oil_badge": rng.choice(["N/A", str(rng.randint(1, 900))]),
        "gas_badge": rng.choice(["N/A", str(rng.randint(1, 900))]),
    }


def expected_export_row(rec: dict, web: dict | None) -> dict | None:
    """The ``/wells`` row the export must hold for ``rec`` (None when the
    well has no coordinates): the JSON writer omits null fields."""
    if rec["latitude"] is None:
        return None
    row = {"pdf_name": rec["pdf_name"]}
    for k in HEADER_FIELDS + STIM_FIELDS:
        row[k] = rec[k]
    if web is not None:
        for k in WEB_FIELDS:
            if web[k] != "N/A":
                row[k] = web[k]
    row["cell"] = cell_of(rec["latitude"], rec["longitude"])
    return {k: v for k, v in row.items() if v is not None}


# ---------------------------------------------------------------- corpus

def build_corpus(cache_dir: str, seed: int, n_docs: int) -> dict:
    """Write (or reuse) the corpus for ``seed``/``n_docs`` under
    ``cache_dir``: ``docs/`` (the full corpus), ``batch/`` (the
    incremental batch: about 10% of the corpus, half re-issued existing
    ``pdf_name``s with new values, half new ones) and ``meta.json``
    (scraped table and the expected export rows before and after the
    batch)."""
    root = os.path.join(cache_dir, f"etl-seed{seed}-n{n_docs}")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as f:
            return {"root": root, **json.load(f)}
    tmp = root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = random.Random(seed)
    recs = [make_record(rng, i) for i in range(n_docs)]
    n_batch = max(2, n_docs // 10)
    reissued = sorted(rng.sample(range(n_docs), n_batch // 2))
    changed = [make_record(rng, i) for i in reissued]
    new = [make_record(rng, n_docs + i) for i in range(n_batch - n_batch // 2)]
    # a re-issued document keeps its well (name, API): the rest changes
    for i, c in zip(reissued, changed):
        c["well_name"], c["api"] = recs[i]["well_name"], recs[i]["api"]
    after = {r["pdf_name"]: r for r in recs}
    after.update({r["pdf_name"]: r for r in changed + new})
    web = [web_row(rng, r) for r in after.values() if rng.random() < 0.85]
    web_by_key = {(w["well_name"], w["api"]): w for w in web}

    def export_rows(records) -> list[dict]:
        rows = (
            expected_export_row(r, web_by_key.get((r["well_name"], r["api"])))
            for r in records
        )
        return [r for r in rows if r is not None]

    bytes_in = 0
    for sub, records in (("docs", recs), ("batch", changed + new)):
        os.makedirs(os.path.join(tmp, sub))
        for r in records:
            payload = encode_pdf(document_lines(r), compress=r["_compress"])
            bytes_in += len(payload) if sub == "docs" else 0
            with open(os.path.join(tmp, sub, r["pdf_name"]), "wb") as f:
                f.write(payload)
    meta = {
        "n_docs": n_docs,
        "n_batch": n_batch,
        "n_changed": len(changed),
        "bytes_in": bytes_in,
        "web": web,
        "expected_full": export_rows(recs),
        "expected_after": export_rows(after.values()),
    }
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return {"root": root, **meta}


def wells_rows(seed: int, n_rows: int) -> list[dict]:
    """Rows shaped like the ``/wells`` export (with coordinates and the
    scraped attributes), generated without the PDF step."""
    rng = random.Random(seed)
    rows = []
    idx = 0
    while len(rows) < n_rows:
        rec = make_record(rng, idx)
        idx += 1
        row = expected_export_row(rec, web_row(rng, rec))
        if row is not None:
            rows.append(row)
    return rows
