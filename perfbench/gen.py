"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed, so two runs with the same
``--seed`` see byte-identical inputs.

- :func:`write_load_docs` — nested JSON ``{"Records": [...]}`` documents for
  ``ingest_load`` (``pipeline.run_load_job``).
- :func:`write_stream_feeds` — small ``<Data><Record>…`` XML feeds for
  ``ingest_stream`` (``pipeline.run_stream_job(fmt="xml")``), with about 1%
  of records damaged by an XML-illegal control character.

Each generator returns the row counts the program must produce, so
the benchmark checks outputs without trusting the program under test.
"""

from __future__ import annotations

import json
import os
import random
from xml.sax.saxutils import escape

#: fnumbers fan-out: element count -> weight. Skewed, mean ~2; the zero
#: bucket is split evenly between a missing key, a null and an empty array.
FANOUT_WEIGHTS = {0: 20, 1: 25, 2: 20, 3: 15, 4: 10, 5: 5, 6: 3, 8: 2}
STATUSES = ["Pending", "Approved", "Rejected", "Closed"]
LOCATIONS = [f"Site{i:02d}" for i in range(20)]


def _record(rng: random.Random, filename: str, serial: int) -> tuple[dict, int]:
    """One ``MIST_NESTED_SCHEMA`` record and the rows it flattens to."""
    created = rng.randrange(1_600_000_000, 1_700_000_000)
    n = rng.choices(list(FANOUT_WEIGHTS), weights=list(FANOUT_WEIGHTS.values()))[0]
    rec: dict = {
        "user": f"user{rng.randrange(500):04d}",
        "dt_created": created,
        "dt_submitted": created + rng.randrange(86_400),
        "ast_name": None if rng.random() < 0.1 else f"asset-{rng.randrange(5000)}",
        "location": rng.choice(LOCATIONS),
        "status": rng.choice(STATUSES),
        "json_hash": f"{rng.getrandbits(64):016x}",
        "local_id": None if rng.random() < 0.1 else f"L-{serial}",
        "filename": filename,
    }
    if n:
        rec["fnumbers"] = [
            {"fnumber": f"F{rng.randrange(1_000_000):06d}", "scan_time": _iso(created + 60 * k)}
            for k in range(n)
        ]
    else:
        shape = rng.randrange(3)  # 0: key missing, 1: null, 2: empty array
        if shape:
            rec["fnumbers"] = None if shape == 1 else []
    # explode_outer keeps one base row for a record with no elements
    return rec, max(n, 1)


def _iso(epoch: int) -> str:
    import datetime as _dt

    return _dt.datetime.fromtimestamp(epoch, _dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def write_load_docs(out_dir: str, seed: int, n_docs: int, records: int) -> list[dict]:
    """Write ``n_docs`` JSON documents of ``records`` records each.

    Returns one ``{"path", "records", "rows"}`` entry per document, where
    ``rows`` is the flattened row count the publish and both exports must
    hold (JSON documents carry no record-level damage: 0 quarantined).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"load:{seed}")
    docs = []
    for d in range(n_docs):
        name = f"load_{seed}_{d:03d}.json"
        recs, rows = [], 0
        for i in range(records):
            rec, r = _record(rng, name, d * records + i)
            recs.append(rec)
            rows += r
        path = os.path.join(out_dir, name)
        with open(path, "w") as f:
            json.dump({"Records": recs}, f)
        docs.append({"path": path, "records": records, "rows": rows})
    return docs


def _xml_record(rec: dict, damaged: bool) -> str:
    parts = ["<Record>"]
    for k, v in rec.items():
        if k == "fnumbers" or v is None:
            continue
        text = escape(str(v))
        if damaged and k == "location":
            text += "\x01"  # XML-illegal in chardata: quarantines the record
        parts.append(f"<{k}>{text}</{k}>")
    for el in rec.get("fnumbers") or []:
        parts.append(
            f"<fnumbers><fnumber>{el['fnumber']}</fnumber>"
            f"<scan_time>{el['scan_time']}</scan_time></fnumbers>"
        )
    parts.append("</Record>")
    return "".join(parts)


def write_stream_feeds(
    out_dir: str, seed: int, n_files: int, records: int, damage: float = 0.01
) -> dict:
    """Write ``n_files`` XML feeds of ``records`` records each.

    Returns ``{"files": [...], "records", "published", "quarantined"}``:
    a damaged record becomes one quarantined row, every clean record
    flattens to ``max(len(fnumbers), 1)`` published rows.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"stream:{seed}")
    files, published, quarantined = [], 0, 0
    for f_i in range(n_files):
        name = f"feed_{seed}_{f_i:04d}.xml"
        body = []
        for i in range(records):
            rec, rows = _record(rng, name, f_i * records + i)
            damaged = rng.random() < damage
            body.append(_xml_record(rec, damaged))
            if damaged:
                quarantined += 1
            else:
                published += rows
        path = os.path.join(out_dir, name)
        with open(path, "w") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n<Data>\n')
            f.write("\n".join(body))
            f.write("\n</Data>\n")
        files.append(path)
    return {
        "files": files,
        "records": n_files * records,
        "published": published,
        "quarantined": quarantined,
    }

