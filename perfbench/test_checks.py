#!/usr/bin/env python3
"""Self-test of the benchmark's checks: each check must pass on the
true expectation and report a failed operation on a perturbed one (one
event dropped, one oracle row changed, one transaction missing).
Needs only DuckDB, pandas and the sf0.1 parquet, not Spark::

    python3 perfbench/test_checks.py      # or: python3 -m pytest perfbench/test_checks.py
"""

from __future__ import annotations

import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

SF_DIR = checks.sf_dir()


def _changes(table: str, n: int = 400) -> list[dict]:
    g = gen.ChangeGen(SF_DIR, [table], seed=7)
    return [m for _, m in g.batch(n, start_pos=1_000, weights={table: 1.0})]


def test_table_check_catches_a_dropped_event():
    for table in ("orders", "lineitem"):
        changes = _changes(table)
        keys = gen.KEYS[table]
        truth = checks.expected_table(SF_DIR, table, keys, changes)
        assert checks.compare_tables(table, truth, truth) == []
        # drop an event that decides its key's final row (an event a
        # later one overrides changes nothing, rightly)
        last = {m["key"]: i for i, m in enumerate(changes)}
        winners = sorted(last.values())
        for drop in (winners[0], winners[len(winners) // 2], winners[-1]):
            perturbed = checks.expected_table(
                SF_DIR, table, keys, changes[:drop] + changes[drop + 1:])
            assert checks.compare_tables(table, truth, perturbed), (table, drop)


def test_table_check_ignores_row_and_column_order():
    changes = _changes("orders")
    truth = checks.expected_table(SF_DIR, "orders", ["o_orderkey"], changes)
    shuffled = truth.sample(frac=1.0, random_state=3)[list(reversed(truth.columns))]
    assert checks.compare_tables("orders", shuffled, truth) == []


def test_binlog_meanings_follow_file_order():
    g = gen.BinlogGen(SF_DIR, seed=5)
    _, m1 = g.file(600, 10, probe_first=False)
    _, m2 = g.file(200, 10, probe_first=True)
    meanings = m1 + m2
    truth = checks.expected_table(SF_DIR, "customer", ["c_custkey"], meanings)
    # dropping the last change of any key that was written twice in a
    # file changes the expected contents
    last = {}
    for i, m in enumerate(m1):
        last[m["key"]] = i
    twice = [i for k, i in last.items() if sum(1 for m in m1 if m["key"] == k) > 1]
    assert twice, "the generator should write some keys more than once per file"
    i = twice[0]
    perturbed = checks.expected_table(
        SF_DIR, "customer", ["c_custkey"], meanings[:i] + meanings[i + 1:])
    assert checks.compare_tables("customer", truth, perturbed)


def test_oracle_check_catches_a_changed_row():
    from go_cdc_spark.plans.queries import ORACLE

    from workloads import MIX

    digests = checks.load_digests()
    name = MIX[0]
    pdf = checks.oracle_frame(ORACLE[name], SF_DIR)
    assert checks.check_query(name, pdf, digests[name]) == []
    changed = pdf.copy()
    col = changed.columns[-1]
    changed.loc[changed.index[0], col] = changed[col].iloc[1]
    assert checks.check_query(name, changed, digests[name])
    assert checks.check_query(name, pdf.iloc[1:], digests[name])


def test_gtid_check_catches_a_missing_transaction():
    gnos = list(range(1, 40))
    wm = json.dumps({gen.GTID_SID: [{"start": 1, "end": 39}]})
    assert checks.check_gtid(wm, gen.GTID_SID, gnos) == []
    assert checks.check_gtid(wm, gen.GTID_SID, gnos[:-1])
    assert checks.check_gtid(wm, gen.GTID_SID, gnos[:10] + gnos[11:])
    assert checks.check_gtid(None, gen.GTID_SID, gnos)


def test_rows_read_check_catches_a_replayed_segment():
    assert checks.check_rows_read("r", 2_000, 2_000) == []
    assert checks.check_rows_read("r", 2_000 + 24_000, 2_000)


if __name__ == "__main__":
    tests = [(k, v) for k, v in sorted(globals().items()) if k.startswith("test_")]
    for name, fn in tests:
        fn()
        print("ok", name, flush=True)
    print(f"{len(tests)} passed")
