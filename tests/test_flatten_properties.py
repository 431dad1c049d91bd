"""Property-based flatten invariants (SURVEY §5.2 item 4).

For arbitrary nested records, the flatten operator must satisfy:
- row count = Σ per-record max(1, len(array))  (§2.3(a))
- base scalar fields are replicated unchanged into every derived row
- output columns = exactly the whitelist, in whitelist order (O9)
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_ingestor_spark.operators.flatten import flatten_nested
from data_ingestor_spark.schemas import MIST_NESTED_SCHEMA, TEMPLATE_COLUMNS

_elem = st.fixed_dictionaries(
    {
        "fnumber": st.one_of(st.none(), st.text(min_size=1, max_size=8)),
        "scan_time": st.one_of(st.none(), st.text(min_size=1, max_size=20)),
    }
)

_record = st.fixed_dictionaries(
    {
        "user": st.text(min_size=1, max_size=10),
        "dt_created": st.integers(min_value=0, max_value=2**40),
        "dt_submitted": st.integers(min_value=0, max_value=2**40),
        "ast_name": st.one_of(st.none(), st.text(max_size=10)),
        "location": st.text(min_size=1, max_size=10),
        "status": st.sampled_from(["Pending", "Approved", "Rejected"]),
        "json_hash": st.text(min_size=1, max_size=12),
        "local_id": st.one_of(st.none(), st.text(max_size=6)),
        "filename": st.text(min_size=1, max_size=12),
        "fnumbers": st.one_of(st.none(), st.lists(_elem, max_size=4)),
    }
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(records=st.lists(_record, min_size=1, max_size=12))
def test_flatten_invariants(spark, records):
    df = spark.createDataFrame(records, schema=MIST_NESTED_SCHEMA)
    out = flatten_nested(df, "fnumbers", TEMPLATE_COLUMNS)

    assert out.columns == TEMPLATE_COLUMNS

    expected_rows = sum(max(1, len(r["fnumbers"] or [])) for r in records)
    got = out.collect()
    assert len(got) == expected_rows

    # base fields replicated: group output rows by json_hash (not unique per
    # record in adversarial inputs, so compare multisets per hash value)
    by_hash: dict[str, int] = {}
    for r in records:
        by_hash[r["json_hash"]] = by_hash.get(r["json_hash"], 0) + max(1, len(r["fnumbers"] or []))
    got_by_hash: dict[str, int] = {}
    for row in got:
        got_by_hash[row["json_hash"]] = got_by_hash.get(row["json_hash"], 0) + 1
    assert got_by_hash == by_hash

    # every emitted (fnumber, scan_time) pair came from some source element
    src_pairs = {
        (e["fnumber"], e["scan_time"])
        for r in records
        for e in (r["fnumbers"] or [])
    }
    for row in got:
        if row["fnumber"] is not None or row["scan_time"] is not None:
            assert (row["fnumber"], row["scan_time"]) in src_pairs


def test_observed_metrics(spark):
    """observe()-based success/error counters (O20 parity) surface through
    a collected action without an extra job."""
    from data_ingestor_spark.metrics import observed

    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("c", None)], "user string, v int"
    )
    obs_df, obs = observed(df, error_condition="user IS NULL")
    obs_df.collect()
    assert obs.get == {"rows_total": 3, "rows_error": 1, "rows_succeeded": 2}


_item = st.fixed_dictionaries({"x": st.integers(min_value=0, max_value=99)})
_group = st.fixed_dictionaries(
    {"g": st.text(min_size=1, max_size=4), "items": st.lists(_item, max_size=3)}
)
_deep_record = st.fixed_dictionaries(
    {
        "id": st.integers(min_value=0, max_value=10**6),
        "meta": st.fixed_dictionaries({"src": st.text(min_size=1, max_size=4)}),
        "groups": st.lists(_group, max_size=3),
    }
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(records=st.lists(_deep_record, min_size=1, max_size=6))
def test_flatten_all_invariants(spark, records):
    """flatten_all row count = Σ over records of Σ over groups of
    max(1, |items|) (with empty groups contributing one row), and every
    struct field is inlined."""
    from data_ingestor_spark.operators.flatten import flatten_all

    df = spark.createDataFrame(
        records,
        "id bigint, meta struct<src:string>, "
        "groups array<struct<g:string, items:array<struct<x:bigint>>>>",
    )
    out = flatten_all(df)
    assert sorted(out.columns) == ["groups_g", "groups_items_x", "id", "meta_src"]

    def expected_rows(rec):
        if not rec["groups"]:
            return 1
        return sum(max(1, len(g["items"])) for g in rec["groups"])

    assert out.count() == sum(expected_rows(r) for r in records)
