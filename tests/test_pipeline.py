"""End-to-end 4-layer pipeline tests on the CI golden fixture (SURVEY §5)."""

from __future__ import annotations

import datetime
import hashlib

import pytest

from dbt_gdpr_anonymizer_spark.config import EngineSettings
from dbt_gdpr_anonymizer_spark.operators.validate import (
    assert_no_pii_in_mart,
    check_anonymization_quality,
    k_anonymity_violations,
    scan_for_pii,
)
from dbt_gdpr_anonymizer_spark.plans import pipeline
from tests.conftest import CI_ROWS, RAW_SCHEMA, jobs_launched

CONF = EngineSettings(salt_key="dev_salt_UNSAFE")


def layers(ci_raw):
    return pipeline.run_pipeline(ci_raw, conf=CONF)


def test_staging(spark, ci_raw):
    st = pipeline.staging(ci_raw)
    rows = {r["service_id"]: r for r in st.collect()}
    a = rows["TEST001"]
    assert a["service_key"] == hashlib.md5(b"TEST001").hexdigest()
    assert a["last_updated"] == datetime.date(2025, 1, 1)
    assert isinstance(a["latitude"], float)
    assert (a["has_email"], a["has_phone"], a["has_address"], a["has_coordinates"]) == (
        1,
        1,
        1,
        1,
    )
    # null-filter: drop rows missing service_id/name
    extra = spark.createDataFrame(
        [(None, "x") + (None,) * 13], ci_raw.schema
    )
    assert pipeline.staging(ci_raw.unionByName(extra)).count() == 2


def test_anonymize_layer(spark, ci_raw):
    anon = layers(ci_raw)["anonymized"]
    r = {x["service_id_anon"]: x for x in anon.collect()}["TEST001"]
    assert r["anonymization_version"] == "1.0.0"
    assert r["gps_anonymization_method"] == "round_2_decimals"
    assert r["contact_email_anon"].endswith("@anonymized.gouv.fr")
    assert r["anonymized_at"] is not None


def test_enrich_layer(spark, ci_raw):
    enr = layers(ci_raw)["enriched"]
    r = {x["service_id_anon"]: x for x in enr.collect()}
    assert r["TEST001"]["organization_category"] == "autres"  # 'ministere' not in map
    assert r["TEST002"]["organization_category"] == "operateurs"
    assert r["TEST001"]["department_code_anon"] == "75"
    assert r["TEST001"]["geohash_anon"] == "geo_48.86_2.35"
    assert r["TEST001"]["is_email_properly_anonymized"] == 1
    assert r["TEST001"]["is_phone_properly_anonymized"] == 1


def test_mart_layer(spark, ci_raw):
    m = layers(ci_raw)["mart"]
    r = {x["service_id"]: x for x in m.collect()}
    assert set(r) == {"TEST001", "TEST002"}
    a = r["TEST001"]
    assert a["region"] == "Île-de-France"
    assert r["TEST002"]["region"] == "Provence-Alpes-Côte d'Azur"
    assert a["organization_type_label"] == "Ministère"
    assert r["TEST002"]["organization_type_label"] == "Établissement Public"
    assert a["data_completeness_score"] == 4
    assert a["data_quality_level"] == "Complet"
    assert a["processing_pipeline"] == "GDPR Anonymizer v1.0.0"
    # mart never exposes street_address
    assert "street_address" not in m.columns


def test_no_pii_in_mart(spark, ci_raw):
    m = layers(ci_raw)["mart"]
    assert assert_no_pii_in_mart(m).count() == 0
    assert scan_for_pii(m, "mart").count() == 0


def test_pii_detected_in_raw_martlike(spark, ci_raw):
    # sanity: the scanners DO fire on un-anonymized data
    fake_mart = pipeline.staging(ci_raw).selectExpr(
        "contact_email", "contact_phone", "latitude", "longitude", "street_address"
    )
    assert assert_no_pii_in_mart(fake_mart).count() > 0
    assert scan_for_pii(fake_mart, "raw").count() > 0


def test_quality_metrics(spark, ci_raw):
    metrics = check_anonymization_quality(layers(ci_raw)["enriched"])
    assert metrics.emails["success_rate"] == 100.0
    assert metrics.phones["success_rate"] == 100.0
    assert metrics.coordinates["success_rate"] == 100.0


def test_k_anonymity(spark, ci_raw):
    enr = layers(ci_raw)["enriched"]
    viol = k_anonymity_violations(enr, ["organization_category"], k=5)
    # 2-row fixture: both groups are below k=5
    assert viol.count() == 2
    assert k_anonymity_violations(enr, ["organization_category"], k=1).count() == 0


def test_cli_end_to_end(spark, ci_raw, tmp_path):
    """scripts/run_pipeline.py drives ingest -> 4 layers -> PII report ->
    validation gate and exits 0 on the clean CI fixture — the `make run &&
    make validate` contract."""
    import importlib.util
    import json
    import os

    raw_path = str(tmp_path / "raw")
    ci_raw.write.mode("overwrite").parquet(raw_path)
    out_root = str(tmp_path / "out")

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_cli",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "run_pipeline.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # k=1: a 2-row fixture can satisfy it -> clean exit
    code = mod.main(["--input", raw_path, "--output", out_root, "--k", "1"])
    assert code == 0
    report = json.loads(
        (tmp_path / "out" / "pii_report" / "pii_report.json").read_text()
    )
    assert any(r["column_name"] == "contact_email" for r in report)
    # mart layer materialized as parquet
    mart = spark.read.parquet(f"{out_root}/mart")
    assert mart.count() == 2

    # default k=5 cannot hold with 2 rows: gate exits 1 AND persists the
    # violating groups (store_failures semantics)
    code = mod.main(["--input", raw_path, "--output", out_root])
    assert code == 1
    viol = spark.read.parquet(f"{out_root}/test_results/k_anonymity")
    assert viol.count() > 0


def test_validate_empty_mart_yields_zero_counts(spark, ci_raw):
    """F.sum over zero rows is NULL; validate() must coalesce so an empty
    mart/enriched produces clean zero counts, not None arithmetic."""
    from dbt_gdpr_anonymizer_spark.operators.validate import validate

    ls = layers(ci_raw)
    empty_mart = ls["mart"].limit(0)
    empty_enr = ls["enriched"].limit(0)
    report = validate(empty_enr, empty_mart)
    assert report["pii_violations"] == 0
    assert report["pii_scan_hits"] == 0
    assert report["quality"]["emails"] == {
        "total": 0,
        "properly_anonymized": 0,
        "improperly_anonymized": 0,
        "success_rate": 0.0,
    }
    assert report["passed"] is True


def test_generic_schema_tests_vocabulary(spark):
    from dbt_gdpr_anonymizer_spark.operators.validate import (
        ColumnTest,
        generic_schema_tests,
    )

    child = spark.createDataFrame(
        [(1, "a", 5, 1), (1, "b", 50, 1), (2, None, -5, 9), (None, "c", 7, 2)],
        "k long, name string, v long, fk long",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    tests = {
        "child": [
            ColumnTest("k", "unique"),            # k=1 duplicated -> 1
            ColumnTest("name", "not_null"),       # one null -> 1
            ColumnTest("v", "accepted_range", lo=0, hi=10),  # -5, 50 -> 2
            ColumnTest("name", "accepted_values", values=("a", "b")),  # 'c'; null NOT counted -> 1
            ColumnTest(
                "fk", "relationships", to_table="parent", to_field="pk"
            ),  # fk=9 orphan -> 1
            ColumnTest("v", "not_null", where="k = 2"),  # scoped: none null -> 0
        ],
        "parent": [ColumnTest("pk", "unique")],   # 0
    }
    out = {
        (r.table_name, r.column_name, r.test_name): r.n_violations
        for r in generic_schema_tests(
            {"child": child, "parent": parent}, tests
        ).collect()
    }
    assert out == {
        ("child", "k", "unique"): 1,
        ("child", "name", "not_null"): 1,
        ("child", "v", "accepted_range"): 2,
        ("child", "name", "accepted_values"): 1,
        ("child", "fk", "relationships"): 1,
        ("child", "v", "not_null"): 0,
        ("parent", "pk", "unique"): 0,
    }


def test_mapping_expr_escaping(spark, literal_modes):
    """Mapping keys/values with backslashes and quotes, and column
    names with backticks, must route exactly as raw bytes under both
    ``escapedStringLiterals`` settings."""
    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.plans.pipeline import _mapping_sql

    df = spark.createDataFrame(
        [("C:\\temp",), ("don't",), ("plain",), (None,)], ["od`d"]
    )
    m = {"C:\\temp": "bs\\v", "don't": "quo'te", "plain": "ok"}
    for _ in literal_modes():
        got = {
            r[0]: r.v
            for r in df.select(
                F.expr("`od``d`").alias("k"),
                F.expr(_mapping_sql("od`d", m, "MISS")).alias("v"),
            ).collect()
        }
        assert got == {
            "C:\\temp": "bs\\v",
            "don't": "quo'te",
            "plain": "ok",
            None: "MISS",
        }


def test_layer_reread_schema_matches_inferred(spark, ci_raw, tmp_path):
    """run_pipeline re-reads each written layer with the written schema
    made nullable; that must be exactly what parquet inference finds,
    and the rows must be the same."""
    ls = pipeline.run_pipeline(ci_raw, conf=CONF, output_root=str(tmp_path))
    for name in ("anonymized", "enriched", "mart"):
        inferred = spark.read.parquet(str(tmp_path / name))
        assert ls[name].schema == inferred.schema, name
        assert all(f.nullable for f in ls[name].schema.fields), name
        assert sorted(map(repr, ls[name].collect())) == sorted(
            map(repr, inferred.collect())
        ), name


@pytest.mark.parametrize(
    "extra", ["remarque_é", "remarque`é"], ids=["non_ascii", "backtick"]
)
def test_gate_failing_path(spark, ci_raw, tmp_path, literal_modes, extra):
    """A mart with one planted un-hashed email, unmasked +33 phone, street
    address and 3-decimal coordinate, plus an extra string column (a
    non-ASCII name, with or without a backtick) holding an email: every
    count is exact under both literal settings, and the gate fails and
    stores the failing rows."""
    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.operators.validate import (
        run_validation_gate,
        validate,
    )

    ls = layers(ci_raw)
    mart = ls["mart"].withColumn(extra, F.lit(None).cast("string"))
    planted = spark.createDataFrame(
        [
            (
                "leak1@example.fr",
                "+33 1 23 45 67 89",
                "12 rue de la Paix",
                48.857,
                2.35,
                "owner@example.com",
            )
        ],
        ["contact_email", "contact_phone", "city", "latitude", "longitude", extra],
    )
    first = ls["mart"].limit(1).drop(*planted.columns[:-1])
    mart = mart.unionByName(first.crossJoin(planted))
    for _ in literal_modes():
        report = validate(ls["enriched"], mart, k=1)
        assert report["pii_violations"] == 3
        assert report["pii_scan_detail"] == {
            "scan__contact_email__non_anonymized_email": 1,
            "scan__contact_phone__unmasked_fr_phone": 1,
            "scan__city__street_address": 1,
            f"scan__{extra}__non_anonymized_email": 1,
        }
        assert report["pii_scan_hits"] == 4
        assert report["passed"] is False
    out = tmp_path / "test_results"
    assert run_validation_gate(ls["enriched"], mart, k=1, failures_root=str(out)) == 1
    rows = spark.read.parquet(str(out / "assert_no_pii_in_mart")).collect()
    assert sorted((r.column_name, r.value) for r in rows) == [
        ("contact_email", "leak1@example.fr"),
        ("contact_phone", "+33 1 23 45 67 89"),
        ("latitude/longitude", "48.857, 2.35"),
    ]
    scan = spark.read.parquet(str(out / "pii_scan")).collect()
    assert sorted((r.column_name, r.issue_type, r.value) for r in scan) == sorted(
        [
            ("contact_email", "non_anonymized_email", "leak1@example.fr"),
            ("contact_phone", "unmasked_fr_phone", "+33 1 23 45 67 89"),
            ("city", "street_address", "12 rue de la Paix"),
            (extra, "non_anonymized_email", "owner@example.com"),
        ]
    )
    assert not (out / "k_anonymity").exists()


def _nulled(rows, *idx):
    return [tuple(None if i in idx else v for i, v in enumerate(r)) for r in rows]


# Raw inputs for the observed-versus-scanned gate: the CI rows; rows that
# staging filters to zero (no service_id); every PII column NULL; and an
# email planted in service_name, a pass-through column that reaches the mart.
GATE_INPUTS = {
    "ci": CI_ROWS,
    "staged_empty": _nulled(CI_ROWS, 0),
    "null_pii": _nulled(CI_ROWS, 4, 5, 7, 11, 12),
    "planted": [(CI_ROWS[0][0], "Service owner@example.com") + CI_ROWS[0][2:]]
    + CI_ROWS[1:],
}


@pytest.mark.parametrize("case", list(GATE_INPUTS))
def test_observed_gate_equals_scan(spark, tmp_path, literal_modes, case):
    """validate() on the frames run_pipeline returns reads the counts
    observed during the layer writes and launches only the k-anonymity
    jobs; on fresh reads of the same files, or a derived frame, it scans.
    The reports are equal under both literal settings, and the planted
    email fails the gate through the observed path."""
    from dbt_gdpr_anonymizer_spark.operators.validate import (
        run_validation_gate,
        validate,
    )

    raw = spark.createDataFrame(GATE_INPUTS[case], RAW_SCHEMA)
    for mode in literal_modes():
        root = tmp_path / mode
        ls = pipeline.run_pipeline(raw, conf=CONF, output_root=str(root))
        enr, mart = ls["enriched"], ls["mart"]
        kanon = jobs_launched(
            spark,
            lambda: k_anonymity_violations(enr, ["organization_category"], 1).count(),
        )
        reports = []
        assert jobs_launched(
            spark, lambda: reports.append(validate(enr, mart, k=1))
        ) == kanon
        assert jobs_launched(
            spark, lambda: reports.append(validate(enr, mart.filter("true"), k=1))
        ) > kanon
        fresh = [spark.read.parquet(str(root / n)) for n in ("enriched", "mart")]
        reports.append(validate(*fresh, k=1))
        assert reports[0] == reports[1] == reports[2]
        if case != "planted":
            assert reports[0]["passed"] is True
            continue
        assert reports[0]["pii_scan_detail"] == {
            "scan__service_name__non_anonymized_email": 1
        }
        out = root / "test_results"
        assert run_validation_gate(enr, mart, k=1, failures_root=str(out)) == 1
        assert spark.read.parquet(str(out / "assert_no_pii_in_mart")).count() == 0
        scan = spark.read.parquet(str(out / "pii_scan")).collect()
        assert [(r.column_name, r.issue_type, r.value) for r in scan] == [
            ("service_name", "non_anonymized_email", "Service owner@example.com")
        ]


def test_pattern_guards_lossless(spark, literal_modes):
    """Each literal guard in front of a PII regex keeps every match: the
    guarded count equals the bare regex count under both literal
    settings. ``+331 23 45 67 89`` matches with no space after ``+33``,
    so a ``'+33 '`` guard would drop it."""
    from dbt_gdpr_anonymizer_spark.functions.sqltext import sql_str
    from dbt_gdpr_anonymizer_spark.operators.validate import (
        _PATTERN_GUARDS,
        EMAIL_PATTERN,
        PHONE_PATTERN,
        _match_count,
    )

    cells = [
        "leak1@example.fr", "a.b+c@x.co", "user_1@anonymized.gouv.fr",
        "a＠b.fr", "mail@例え.jp", "no at sign", "@", "x@y",
        "+33 1 23 45 67 89", "+331 23 45 67 89", "+33612345678",
        "tél. +33 6 12 34 56 78 à Paris", "+33 1 23 XX XX XX",
        "+33 1 23 45 67 89 XX", "+ 33 1 23 45 67 89", "+34 1 23 45 67 89",
        "0033 1 23 45 67 89", "Ünïcödé ✓", "", None,
    ]
    df = spark.createDataFrame([(c,) for c in cells], "c string")
    assert set(_PATTERN_GUARDS) == {EMAIL_PATTERN, PHONE_PATTERN}
    for _ in literal_modes():
        for pattern in _PATTERN_GUARDS:
            guarded, bare = df.selectExpr(
                _match_count("c", pattern), f"count_if(c RLIKE {sql_str(pattern)})"
            ).first()
            assert guarded == bare > 0, pattern
        only = df.filter("c = '+331 23 45 67 89'")
        assert only.selectExpr(_match_count("c", PHONE_PATTERN)).first()[0] == 1


def test_k_anonymity_violations_unsorted(spark, ci_raw):
    """The violating groups are counted or stored as parquet; nothing
    reads their order, so the plan holds no Sort."""

    def nodes(plan):
        yield plan.getClass().getSimpleName()
        ch = plan.children()
        for i in range(ch.size()):
            yield from nodes(ch.apply(i))

    viol = k_anonymity_violations(layers(ci_raw)["enriched"], ["organization_category"])
    assert "Sort" not in set(nodes(viol._jdf.queryExecution().optimizedPlan()))


def test_gate_regex_column_names(spark, ci_raw, tmp_path):
    """A mart string column named ``a.b+(c)`` holding an email: under the
    default parser setting the observed and the scanned gate count it;
    under ``quotedRegexColumnNames=true`` both raise the error naming the
    setting and the column, never a silent 0."""
    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.functions.sqltext import REGEX_NAMES_CONF
    from dbt_gdpr_anonymizer_spark.operators.validate import mart_aggs, validate

    odd = "a.b+(c)"
    ls = layers(ci_raw)
    mart = ls["mart"].withColumn(odd, F.lit("owner@example.com"))

    def observed():
        return pipeline._write_observed(mart, str(tmp_path / "m"), mart_aggs(mart))

    def hits(m):
        return validate(ls["enriched"], m, k=1)["pii_scan_detail"]

    want = {f"scan__{odd}__non_anonymized_email": 2}
    written = observed()
    assert hits(written) == hits(mart) == want
    spark.conf.set(REGEX_NAMES_CONF, "true")
    try:
        for gate in (observed, lambda: written, lambda: mart):
            with pytest.raises(ValueError, match=REGEX_NAMES_CONF) as e:
                hits(gate())
            assert odd in str(e.value)
    finally:
        spark.conf.unset(REGEX_NAMES_CONF)
