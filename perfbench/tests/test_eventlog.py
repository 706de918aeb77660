import json
from pathlib import Path

from eventlog import Op, expanded_rows, op_metrics, read_events

DATA = Path(__file__).parent / "data"


def _ops():
    return [Op(**o) for o in json.loads((DATA / "tiny_ops.json").read_text())]


def test_parses_a_recorded_log():
    # two labelled operations, each one aggregation (a map job and a result
    # job under AQE); the second also ran the same aggregation from a thread
    # of its own, whose jobs carry no group
    got = op_metrics(read_events(str(DATA / "events_1_tiny")), _ops())
    x = got["x"]
    assert x["jobs"] == 3.0  # (2 + 4) / 2
    assert x["stages"] == 3.0  # skipped stages do not count
    assert x["tasks"] == 13.5
    assert x["shuffle_write_mb"] > 0
    assert x["spill_mb"] == 0
    assert x["executor_run_s"] > 0
    assert 0 < x["stage_wall_s"] < x["stage_wall_s"] + x["driver_gap_s"]


def test_groups_take_precedence_and_unlabelled_jobs_go_by_time():
    ops = _ops()
    one = op_metrics(read_events(str(DATA / "events_1_tiny")), ops[:1])
    assert one["x"]["jobs"] == 2.0
    # without the intervals, only the grouped jobs of the second op remain
    late = [Op(ops[1].label, "x", 0.0, 1.0)]
    assert op_metrics(read_events(str(DATA / "events_1_tiny")), late)["x"]["jobs"] == 2.0



def test_counts_the_pair_expansion_of_a_recorded_near_dup_join():
    # ngram_jaccard_pairs(min_common=2) over three small documents, recorded
    # with the operation's job group: one 3-member shingle bucket (3 pairs)
    # and five 2-member buckets (5 pairs)
    log = str(DATA / "events_near_dup")
    op = Op("near_dup#0", "near_dup", 1792217770000.0, 1792217775000.0)
    assert expanded_rows(read_events(log), [op]) == {"near_dup": 8.0}
    # the session's first job ran no Generate node and belongs to no operation
    early = Op("warm#0", "warm", 1792217768000.0, 1792217769000.0)
    assert expanded_rows(read_events(log), [early]) == {}
