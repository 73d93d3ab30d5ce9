"""The benchmark's event-log reader and span arithmetic, on a canned event
log. Run with `python -m pytest perfbench/tests -q`."""

import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")


def _plain_log(tmp_path):
    d = tmp_path / "plain"
    d.mkdir()
    shutil.copy(FIXTURE, d / "local-1000000")
    return str(d)


def test_jobs_from_plain_log(tmp_path):
    jobs = spans.eventlog_jobs(spans.read_events(_plain_log(tmp_path)))
    # job 3 never ended (and its line is torn): it is left out
    assert [j["id"] for j in jobs] == [0, 1, 2]
    assert [(j["epoch"], j["step"]) for j in jobs] == [
        (1, "rank_wave"), (1, "fetch_join_seen_write"), (None, "unlabelled"),
    ]
    j0 = jobs[0]
    assert (j0["start"], j0["end"]) == (1000.1, 1001.0)
    (st,) = j0["stages"]
    assert st["tasks"] == 2
    assert st["cpu_s"] == pytest.approx(0.75)
    assert st["run_s"] == pytest.approx(1.0)
    assert st["gc_s"] == pytest.approx(0.01)
    assert st["shuffle_write_b"] == 2 << 20
    assert st["in_rows"] == 150
    # a stage with no submission time (skipped) is not attached
    (st1,) = jobs[1]["stages"]
    assert st1["shuffle_read_b"] == 2 << 20 and st1["spill_b"] == 4096


@pytest.mark.skipif(shutil.which("zstd") is None, reason="needs the zstd binary")
def test_rolling_zstd_log_reads_like_plain(tmp_path):
    with open(FIXTURE) as f:
        lines = f.readlines()
    roll = tmp_path / "rolled" / "eventlog_v2_local-1000000"
    roll.mkdir(parents=True)
    # split so that stage 0's submission and its task ends sit in different
    # parts; part 10 must be read after part 2 (numeric, not text, order)
    cuts = [(1, lines[:4]), (2, lines[4:9]), (10, lines[9:])]
    for n, chunk in cuts:
        raw = roll / f"events_{n}_local-1000000"
        raw.write_text("".join(chunk))
        subprocess.run(["zstd", "-q", "--rm", str(raw), "-o", f"{raw}.zstd"], check=True)
    (roll / "appstatus_local-1000000").write_text("")
    files = spans.eventlog_files(str(tmp_path / "rolled"))
    assert [os.path.basename(p).split("_")[1] for p in files] == ["1", "2", "10"]
    rolled = spans.eventlog_jobs(spans.read_events(str(tmp_path / "rolled")))
    plain = spans.eventlog_jobs(spans.read_events(_plain_log(tmp_path)))
    assert rolled == plain


def _span(sid, start, end, parent):
    return {"id": sid, "name": str(sid), "start": start, "end": end, "parent": parent, "run": "r"}


def test_self_times_split_concurrent_children():
    tree = [
        _span(1, 0.0, 10.0, None),
        _span(2, 1.0, 4.0, 1),
        _span(3, 3.0, 6.0, 1),  # overlaps 2 on [3, 4]
        _span(4, 1.0, 2.0, 2),
    ]
    selfs = spans.self_times(tree)
    assert selfs[1] == pytest.approx(5.0)   # [0,1] + [6,10]
    assert selfs[4] == pytest.approx(1.0)
    assert selfs[2] == pytest.approx(1.5)   # [2,3] + half of [3,4]
    assert selfs[3] == pytest.approx(2.5)   # half of [3,4] + [4,6]
    assert sum(selfs.values()) == pytest.approx(10.0)
    assert spans.subtree_self(tree, selfs, 2) == pytest.approx(2.5)


def test_self_time_of_child_outside_parent_is_clipped():
    tree = [_span(1, 0.0, 4.0, None), _span(2, 3.0, 9.0, 1)]
    selfs = spans.self_times(tree)
    assert selfs[1] == pytest.approx(3.0)
    assert selfs[2] == pytest.approx(1.0)


def test_attach_jobs_under_innermost_span(tmp_path):
    jobs = spans.eventlog_jobs(spans.read_events(_plain_log(tmp_path)))
    tr = spans.Tracer("r")
    rep = tr.add("rep", 1000.0, 1003.0, None, kind="rep")
    call = tr.add("call", 1000.05, 1000.5, rep, kind="call")
    stage_of = spans.attach_jobs(tr, jobs, list(tr.spans))
    by_job = {s["job_id"]: s for s in tr.spans if s.get("kind") == "job"}
    # job 0 is submitted inside the call; the later jobs belong to the rep
    assert by_job[0]["parent"] == call
    assert by_job[1]["parent"] == by_job[2]["parent"] == rep
    # job 0 and its stage are clipped to the call's end
    assert by_job[0]["end"] == 1000.5
    assert max(s["end"] for s in tr.spans if s["parent"] == by_job[0]["id"]) == 1000.5
    assert sorted(st["id"] for st in stage_of.values()) == [0, 1, 3]
    selfs = spans.self_times(tr.spans)
    assert sum(selfs.values()) == pytest.approx(3.0)
