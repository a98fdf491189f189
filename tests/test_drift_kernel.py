"""The grouped PSI + KS kernel (validation/profile.py drift_report)
against the catalogue's DuckDB oracles, SQL_PSI_EVENTS and
SQL_KS_EVENTS, on small hand-built frames that pin its edge rules.

Two documented rules sit on top of the oracle SQL:

* a group present in only one snapshot has no KS statistic in SQL
  (0/0 ECDF, NULL D); the kernel reports D = 1, D_crit NULL, drifted;
* a NULL value sorts first in the KS cumulative counts, as in Spark's
  ascending order; DuckDB's default is NULLS LAST, so the oracle runs
  with ``default_null_order = 'nulls_first'``. PSI puts the NULL value
  in bin 0 in both engines.
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pytod_spark.queries import SQL_KS_EVENTS, SQL_PSI_EVENTS
from pytod_spark.validation.ks import ks_report
from pytod_spark.validation.profile import spark_round6
from pytod_spark.validation.psi import psi_report

# (event_type, value, is_ref) rows per case; every case also carries a
# plain two-sided group so the per-group isolation is exercised
_BASE = [("base", float(i % 7), i % 2 == 0) for i in range(60)]
CASES = {
    "shift_and_clamp": [
        ("g", float(i % 37), True) for i in range(300)
    ] + [("g", (i % 41) * 1.3 + 5.0, False) for i in range(280)],
    "one_sided": [("g", float(i), True) for i in range(5)],
    "empty_reference": [("g", float(i % 3), False) for i in range(9)],
    "constant_reference": [("g", 5.0, True)] * 10
    + [("g", 5.0, False)] * 7 + [("g", 6.0, False)] * 3,
    # D = 1/128 = 0.0078125 exactly: HALF_UP gives 0.007813, Python's
    # round() would give 0.007812
    "sixth_decimal_tie": [("g", float(i), True) for i in range(128)]
    + [("g", v, False) for v in [0.0, 0.0] + [float(i) for i in range(2, 128)]],
    "null_value": [("g", v, True) for v in [None, 1.0, 2.0, 3.0, 4.0]]
    + [("g", v, False) for v in [None, None, 2.0, 9.0]],
}


def _events(rows):
    """(event_id, event_type, value): even ids are the reference."""
    out, eid = [], 0
    for g, v, is_ref in rows:
        if (eid % 2 == 0) != is_ref:
            eid += 1
        out.append((eid, g, v))
        eid += 1
    return pd.DataFrame(out, columns=["event_id", "event_type", "value"])


def _oracle(pdf, sql):
    con = duckdb.connect()
    con.execute("SET default_null_order = 'nulls_first'")
    con.register("events", pdf)
    rows = con.execute(sql).df().to_dict("records")
    return {
        r["event_type"]: {k: (None if pd.isna(v) else v) for k, v in r.items()}
        for r in rows
    }


@pytest.mark.parametrize("case", sorted(CASES))
def test_kernel_matches_duckdb_oracles(spark, case):
    pdf = _events(CASES[case] + _BASE)
    ev = spark.createDataFrame(
        pdf, "event_id long, event_type string, value double"
    )
    is_ref = F.col("event_id") % 2 == 0
    psi = {r["event_type"]: r.asDict() for r in psi_report(
        ev, is_ref, "value", "event_type").collect()}
    ks = {r["event_type"]: r.asDict() for r in ks_report(
        ev, is_ref, "value", "event_type").collect()}

    want_psi = _oracle(pdf, SQL_PSI_EVENTS)
    want_ks = _oracle(pdf, SQL_KS_EVENTS)
    assert set(psi) == set(ks) == set(want_psi) == {"g", "base"}
    for g, want in want_psi.items():
        assert psi[g] == {**want, "n_ref": int(want["n_ref"]),
                          "n_cur": int(want["n_cur"])}, g
    for g, want in want_ks.items():
        if want["n_ref"] == 0 or want["n_cur"] == 0:
            # the SQL has no statistic here; the one-sided rule applies
            assert want["ks_d"] is None and want["ks_crit"] is None
            want = {**want, "ks_d": 1.0, "drifted": 1}
        assert ks[g] == {**want, "n_ref": int(want["n_ref"]),
                         "n_cur": int(want["n_cur"])}, g

    if case == "sixth_decimal_tie":
        assert ks["g"]["ks_d"] == 0.007813


def test_spark_round6_is_half_up_on_the_decimal_repr():
    assert spark_round6(0.0078125) == 0.007813
    assert round(0.0078125, 6) == 0.007812
    # 0.1234565 is stored just below the tie; Spark rounds its shortest
    # repr "0.1234565" HALF_UP, not the binary value
    assert spark_round6(0.1234565) == 0.123457
    assert spark_round6(2.0) == 2.0
