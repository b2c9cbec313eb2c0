"""Failure and wrong-answer accounting, for query and ETL operations."""

from perfbench import datagen, etl_wl, oracle, stats
from perfbench.query_wl import OpRecord


def test_outcomes_count_errors_and_wrong_answers():
    o = stats.Outcomes()
    o.record(ok=True, errored=False)
    o.record(ok=False, errored=False)  # answered, but wrongly
    o.record(ok=False, errored=True)  # raised
    o.record(ok=True, errored=False)
    # a wrong answer is a failure but still a completed operation
    assert (o.attempted, o.errored, o.wrong, o.failed, o.completed) == (4, 1, 1, 2, 3)
    assert o.failed_frac == 0.5


def test_outcomes_all_failed_and_none_attempted():
    o = stats.Outcomes()
    assert o.failed_frac == 0.0
    for _ in range(3):
        o.record(ok=False, errored=True)
    assert o.failed_frac == 1.0 and o.completed == 0


def test_query_record_errored_only_when_it_raised():
    assert OpRecord("q", 0, 1, False, "Py4JError: boom").errored
    assert not OpRecord("q", 0, 1, False).errored


def test_signature_is_order_insensitive_and_catches_a_wrong_value():
    rows = [(1, "a", 2.5), (2, "b", None)]
    cols = ["id", "name", "x"]
    base = oracle.signature(cols, rows)
    assert oracle.signature(cols, list(reversed(rows))) == base
    # same columns in another order, rows permuted to match
    assert oracle.signature(["x", "id", "name"], [(r[2], r[0], r[1]) for r in rows]) == base
    assert oracle.signature(cols, [(1, "a", 2.5), (2, "b", 0.0)]) != base
    assert oracle.signature(cols, rows[:1]) != base
    assert oracle.signature(["id", "name", "y"], rows) != base


def test_canon_widens_dates_and_decimals_like_the_oracle_tests():
    import datetime as dt
    import decimal

    assert oracle.canon(dt.date(2024, 1, 2)) == oracle.canon(dt.datetime(2024, 1, 2))
    assert oracle.canon(decimal.Decimal("1.5")) == oracle.canon(1.5)
    assert oracle.canon(float("nan")) == oracle.canon(None)
    assert oracle.canon(True) != oracle.canon(1)


def _doc(expect_rows):
    return datagen.Document("csv", "x.csv", b"", expect_rows, expect_rows)


def test_upload_check_accepts_the_right_row_count():
    resp = {"success": True, "schema": {"schema_id": "s"}, "table": [{}] * 3}
    assert etl_wl.check_upload(_doc(3), resp) == ""


def test_upload_check_flags_wrong_rows_missing_schema_and_failure():
    ok = {"success": True, "schema": {"schema_id": "s"}, "table": [{}] * 3}
    assert "expected 4 rows" in etl_wl.check_upload(_doc(4), ok)
    assert etl_wl.check_upload(_doc(3), {**ok, "schema": None}) == "no schema in response"
    assert etl_wl.check_upload(_doc(3), {"success": False, "error": "x"}).startswith("success=False")


def test_upload_check_above_the_cap_wants_a_truncated_table():
    cap = etl_wl.TABLE_ROW_CAP
    table = [{}] * cap
    good = {"success": True, "schema": {}, "table": table, "truncated": True}
    assert etl_wl.check_upload(_doc(cap + 5), good) == ""
    assert "truncated" in etl_wl.check_upload(_doc(cap + 5), {**good, "truncated": False})
    # at the cap exactly nothing is cut, so no flag may appear
    assert etl_wl.check_upload(_doc(cap), {**good}) != ""
