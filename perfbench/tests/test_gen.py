import json

import gen


def _dump(plan):
    return json.dumps(
        [[f.name, f.due, f.rows] for f in plan.log.files] + [sorted(plan.log.expected.items())],
        sort_keys=True,
    )


def _plan(seed):
    return gen.stream_plan(seed, history_tx=20, backlog_tx=50, backlog_files=5,
                           tx_per_tick=2, tick_s=0.05, seconds=2.0)


def test_same_seed_same_inputs():
    assert _dump(_plan(7)) == _dump(_plan(7))
    a, b = gen.backlog_log(7, 40, 4), gen.backlog_log(7, 40, 4)
    assert [f.rows for f in a.files] == [f.rows for f in b.files]


def test_different_seeds_differ():
    assert _dump(_plan(7)) != _dump(_plan(8))
    assert gen.backlog_log(7, 40, 4).files[0].rows != gen.backlog_log(8, 40, 4).files[0].rows


def test_arrival_order_and_schedule():
    plan = _plan(3)
    seqs = [ev["seq"] for f in plan.log.files for ev in f.rows]
    assert seqs == list(range(len(seqs)))
    assert len(plan.steady) == 40
    assert [f.due for f in plan.steady] == [k * 0.05 for k in range(40)]
    assert all("_ms" not in ev for f in plan.log.files for ev in f.rows)


def test_every_scheduled_file_carries_rows():
    for seed in range(300):
        plan = gen.stream_plan(seed, history_tx=1, backlog_tx=1, backlog_files=1,
                               tx_per_tick=2, tick_s=0.05, seconds=10.0)
        assert all(f.rows for f in plan.steady), seed


def test_awkward_cases_present():
    log = gen.backlog_log(5, 400, 4)
    rows = [ev for f in log.files for ev in f.rows]
    ids = [ev["id"] for ev in rows]
    assert len(ids) > len(set(ids)), "duplicate deliveries"
    assert any(not gen.is_valid(ev) for ev in rows), "envelopes the intake skips"
    dates = {}
    for ev in rows:
        dates.setdefault(ev["transactionId"], []).append(ev["creationDate"])
    assert any(len(v) != len(set(v)) for v in dates.values()), "equal timestamps"


def test_expected_view_is_max_valid_event_time():
    log = gen.backlog_log(9, 30, 2)
    from datetime import datetime

    want = {}
    for f in log.files:
        for ev in f.rows:
            if gen.is_valid(ev):
                ms = int(datetime.fromisoformat(ev["creationDate"].replace("Z", "+00:00")).timestamp() * 1000)
                want[ev["transactionId"]] = max(want.get(ev["transactionId"], ms), ms)
    assert want == log.expected
