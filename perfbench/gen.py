"""Seeded inputs for the perfbench workloads, and the results they predict.

Every table is a pure function of its seed: the same seed writes the same
bytes. ``prepare(workload, seed, root)`` writes a workload's inputs under
``root`` once and returns a manifest (paths, sizes, expected counts and
digests); later calls with the same seed reuse the files.

* ``services`` — the raw ``services_publics`` table (15 string columns)
  with the NULL schedules of the ``mart_pipeline_services`` query: names,
  types and each PII field drop out on fixed residues of a seeded row key.
  ``expected_mart`` replays staging -> anonymized -> enriched -> mart in
  plain Python, so the mart row count and digest are predicted, not
  recorded.
  About one row in 97 carries an email in ``website``, a column the
  policy passes through, so a PII scan of the masked rows has a predicted
  number of hits.
  The same rows are also written as ``STREAM_DROPS`` JSON-lines files for
  the file-stream source.
* ``registry`` — the TPC-H-shaped and ``documents`` tables the registry
  queries read. Their data does not depend on the seed (the
  expected results are pinned in ``expected.json``); the seed only orders
  the queries.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq

SALT = "perfbench_salt_v1"  # bound through EngineSettings(salt_key=...)

SERVICE_ROWS = 5_000
STREAM_DROPS = 2
REGISTRY_SEED = 20240101

ORG_TYPES = (
    "ministere",
    "etablissement-public",
    "service-deconcentre",
    "autorite-administrative-independante",
    "institution",
    "conseil-comite-commission-organisme-consultatif",
)
TYPE_LABELS = {
    "ministere": "Ministère",
    "autorite-administrative-independante": "Autorité Indépendante",
    "etablissement-public": "Établissement Public",
    "service-central": "Service Central",
}
DEPTS = ("75", "59", "69", "13", "33", "31", "98", "01", "64")
REGIONS = {
    **{d: "Île-de-France" for d in ["75", "77", "78", "91", "92", "93", "94", "95"]},
    **{d: "Hauts-de-France" for d in ["59", "62"]},
    **{d: "Auvergne-Rhône-Alpes" for d in ["69", "01", "42", "63"]},
    **{d: "Provence-Alpes-Côte d'Azur" for d in ["13", "83", "84", "04", "05", "06"]},
    **{d: "Nouvelle-Aquitaine" for d in ["33", "24", "40", "47", "64"]},
    **{d: "Occitanie" for d in ["31", "09", "12", "32", "46", "65", "81", "82"]},
}
CITIES = ("Paris", "Lille", "Lyon", "Marseille", "Bordeaux", "Toulouse", "Nantes", "Rennes")
STREETS = ("rue de la Paix", "avenue Foch", "boulevard Voltaire", "place Bellecour", "impasse des Lilas")
WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "join hash row batch column customer filter vector line data agg value "
    "stream spark group query"
).split()
LANGS = ("en", "fr", "de", "es", "zh")

SERVICE_COLUMNS = (
    "service_id service_name parent_organization organization_type "
    "contact_email contact_phone website street_address postal_code city "
    "commune latitude longitude insee_code last_updated"
).split()


def _coord(rng: random.Random, lo: int, hi: int) -> str:
    """A 4-decimal coordinate whose last two digits read neither ``00`` nor
    ``50``: rounding to 2 decimals always changes it and never meets a tie,
    so every engine agrees on the result."""
    whole = rng.randrange(lo, hi)
    frac = rng.randrange(10_000)
    if frac % 50 == 0:
        frac += 1
    return f"{whole}.{frac:04d}"


def services_rows(seed: int, n: int) -> list[dict]:
    """The raw services table as row dicts (all values strings or None)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        k = rng.randrange(1_000_000_000)
        blank = k % 25 == 0
        lat, lon = _coord(rng, 42, 51), _coord(rng, 1, 8)
        rows.append(
            {
                "service_id": f"S{seed % 1000:03d}-{i:07d}",
                "service_name": None if k % 17 == 0 else f"Service {rng.choice(WORDS)} {k % 9973}",
                "parent_organization": f"Org {k % 7}",
                "organization_type": None if k % 23 == 0 else rng.choice(ORG_TYPES),
                "contact_email": None
                if blank or k % 10 == 0
                else f"{rng.choice(WORDS)}.{rng.choice(WORDS)}{k % 1000}@service.gouv.fr",
                "contact_phone": None
                if blank or k % 7 == 0
                else "+33 " + str(rng.randrange(1, 10)) + "".join(
                    f" {rng.randrange(100):02d}" for _ in range(4)
                ),
                "website": f"mailto:agent.{k % 1000}@mairie-{k % 89}.fr"
                if k % 97 == 0
                else f"https://annuaire.gouv.fr/s/{k}",
                "street_address": None
                if blank or k % 4 == 0
                else f"{rng.randrange(1, 200)} {rng.choice(STREETS)}",
                "postal_code": rng.choice(DEPTS) + f"{rng.randrange(1000):03d}",
                "city": rng.choice(CITIES),
                "commune": rng.choice(CITIES),
                "latitude": None if blank or k % 13 == 0 else lat,
                "longitude": None if blank or k % 13 == 0 else lon,
                "insee_code": f"{rng.randrange(100_000):05d}",
                "last_updated": (dt.date(2024, 1, 1) + dt.timedelta(days=k % 365)).isoformat(),
            }
        )
    return rows


def _round2(s: str) -> float:
    return float(Decimal(s).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _mask_email(e: str | None) -> str | None:
    if not e:
        return None
    h = hashlib.sha256((e.strip().lower() + SALT).encode()).hexdigest()[:16]
    return f"user_{h}@anonymized.gouv.fr"


def _mask_phone(p: str | None) -> str | None:
    return None if not p else p.strip()[:6] + " XX XX XX XX"


MART_COLUMNS = (
    "service_id service_name parent_organization organization_type "
    "organization_type_label contact_email contact_phone city commune "
    "department_code region latitude longitude geohash insee_code postal_code "
    "has_email has_phone has_address has_coordinates data_completeness_score "
    "data_quality_level last_updated anonymization_version processing_pipeline "
    "legal_status license"
).split()


def expected_mart(rows: list[dict]) -> list[tuple]:
    """The mart rows the pipeline must publish, audit timestamps excluded,
    in ``MART_COLUMNS`` order."""
    out = []
    for r in rows:
        if r["service_id"] is None or r["service_name"] is None:
            continue  # staging filter
        flags = [
            int(r["contact_email"] is not None),
            int(r["contact_phone"] is not None),
            int(r["street_address"] is not None),
            int(r["latitude"] is not None and r["longitude"] is not None),
        ]
        score = sum(flags)
        if r["organization_type"] is None or score < 1:
            continue  # mart publication filter
        lat = None if r["latitude"] is None else _round2(r["latitude"])
        lon = None if r["longitude"] is None else _round2(r["longitude"])
        dept = r["postal_code"][:2]
        out.append(
            (
                r["service_id"],
                r["service_name"],
                r["parent_organization"],
                r["organization_type"],
                TYPE_LABELS.get(r["organization_type"], "Autre"),
                _mask_email(r["contact_email"]),
                _mask_phone(r["contact_phone"]),
                r["city"],
                r["commune"],
                dept,
                REGIONS.get(dept, "Autre région"),
                lat,
                lon,
                None if lat is None else f"geo_{lat:.2f}_{lon:.2f}",
                r["insee_code"],
                r["postal_code"],
                *flags,
                score,
                "Complet" if score >= 3 else "Partiel" if score == 2 else "Minimal",
                dt.date.fromisoformat(r["last_updated"]),
                "1.0.0",
                "GDPR Anonymizer v1.0.0",
                "Conforme GDPR - Art. 4.5 (Pseudonymisation)",
                "Licence Ouverte / Open Licence",
            )
        )
    return out


def _render(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return str(v)


def digest(rows) -> str:
    """Order-insensitive digest: the sum of per-row sha256 prefixes."""
    total = n = 0
    for r in rows:
        line = "\x1f".join(_render(v) for v in r)
        total += int(hashlib.sha256(line.encode()).hexdigest()[:16], 16)
        n += 1
    return f"{n}:{total:x}"


# -- registry tables ----------------------------------------------------------


def registry_tables(seed: int = REGISTRY_SEED) -> dict[str, pa.Table]:
    """The tables the registry queries read, in the schemas and at the
    sf0.01 row counts of the repository's test data: ``customer`` and
    ``nation``, ``lineitem``, and ``documents`` with near-duplicate texts."""
    rng = random.Random(seed)
    n_cust, n_supp, n_part, n_ord, n_docs = 1500, 100, 2000, 15000, 500
    segs = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    t = {
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
                "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
                "c_mktsegment": [rng.choice(segs) for _ in range(n_cust)],
            }
        ),
    }
    day0 = dt.datetime(1995, 1, 1)
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
        "l_discount l_tax l_returnflag l_linestatus l_shipdate"
    ).split()}
    for o in range(n_ord):
        ordered = day0 + dt.timedelta(days=rng.randrange(2400))
        for ln in range(1, rng.randrange(1, 8) + 1):
            qty = float(rng.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(ordered + dt.timedelta(days=rng.randrange(1, 122)))
    t["lineitem"] = pa.table(
        {
            **li,
            "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
            "l_partkey": pa.array(li["l_partkey"], pa.int64()),
            "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
            "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
            "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us")),
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 80))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    return t


# -- manifests ----------------------------------------------------------------


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _done(d: str) -> dict | None:
    p = os.path.join(d, "manifest.json")
    if os.path.exists(p):
        with open(p) as fh:
            return {**json.load(fh), "dir": d}
    return None


def _finish(d: str, manifest: dict) -> dict:
    """Record the manifest last, so a half-written input set is redone."""
    tmp = os.path.join(d, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(d, "manifest.json"))
    return {**manifest, "dir": d}


def _services_table(rows: list[dict]) -> pa.Table:
    return pa.table({c: pa.array([r[c] for r in rows], pa.string()) for c in SERVICE_COLUMNS})


def prepare(workload: str, seed: int, root: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``root`` (once) and
    return its manifest; ``manifest["dir"]`` holds the files
    (``services.parquet`` and ``drops/``, or one parquet file per registry
    table)."""
    key = "registry" if workload == "registry" else f"{workload}-{seed}-{SERVICE_ROWS}x{STREAM_DROPS}"
    d = os.path.join(root, key)
    m = _done(d)
    if m is not None:
        return m
    os.makedirs(d, exist_ok=True)
    if workload == "publish":
        rows = services_rows(seed, SERVICE_ROWS)
        path = os.path.join(d, "services.parquet")
        _write(_services_table(rows), path)
        drops = os.path.join(d, "drops")
        os.makedirs(drops, exist_ok=True)
        per = -(-len(rows) // STREAM_DROPS)
        for b in range(STREAM_DROPS):
            with open(os.path.join(drops, f"drop-{b:02d}.json"), "w") as fh:
                for r in rows[b * per:(b + 1) * per]:
                    rec = {k: v for k, v in r.items() if v is not None}
                    for c in ("latitude", "longitude"):
                        if c in rec:
                            rec[c] = float(rec[c])
                    fh.write(json.dumps(rec, ensure_ascii=False, sort_keys=True) + "\n")
        mart = expected_mart(rows)
        return _finish(d, {
            "rows": len(rows),
            "parquet_bytes": os.path.getsize(path),
            "drop_bytes": sum(os.path.getsize(os.path.join(drops, f)) for f in os.listdir(drops)),
            "mart_rows": len(mart),
            "mart_digest": digest(mart),
            "planted": sum(r["website"].startswith("mailto:") for r in rows),
        })
    if workload == "registry":
        tables = registry_tables()
        for name, table in tables.items():
            _write(table, os.path.join(d, f"{name}.parquet"))
        return _finish(d, {
            "rows": {k: v.num_rows for k, v in tables.items()},
        })
    raise ValueError(f"unknown workload {workload!r}")
