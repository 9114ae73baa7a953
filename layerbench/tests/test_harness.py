"""Percentile rule, process clean-up and seeded inputs of the benchmark."""

import os
import random
import subprocess
import sys
import time
import uuid

from layerbench import curation, elt, lake, procs, run, stats


# -- percentile rule ------------------------------------------------------


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail_percentile(99) is None
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(999) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9


def test_summarize_reports_count_median_and_allowed_tail():
    s = stats.summarize([float(i) for i in range(1, 100)])
    assert s == {"n": 99, "p50": 50.0}
    s = stats.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90.0
    assert stats.summarize([]) == {"n": 0}


def test_nearest_rank_percentile():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0


# -- no process left behind ----------------------------------------------

# A child that forks a grandchild and sleeps, like the JVM and its workers.
_TREE = "import subprocess, sys, time; subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(600)']); time.sleep(600)"


def test_timed_out_run_leaves_no_process():
    run_id = uuid.uuid4().hex[:12]
    env = dict(os.environ, **{procs.MARKER: run_id})
    r = run.Run()
    r.start([sys.executable, "-c", _TREE], env, run_id)
    time.sleep(1.0)
    assert len(procs.marked_pids(run_id, r.proc.pid)) == 2
    assert r.wait(deadline=time.time() + 0.5) is None  # the deadline passed: group killed
    assert procs.survivors(run_id, r.proc.pid, wait_s=0) == set()
    assert r.peak_rss > 0


def test_an_execd_child_is_not_counted_as_its_parents_memory():
    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)"])
    try:
        time.sleep(0.5)
        assert procs.sharing_parent_memory({os.getpid(), p.pid}, {os.getpid()}) == set()
    finally:
        p.kill()
        p.wait()


def test_marker_finds_a_process_outside_the_group():
    run_id = uuid.uuid4().hex[:12]
    env = dict(os.environ, **{procs.MARKER: run_id})
    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)"], env=env, start_new_session=True)
    try:
        assert procs.marked_pids(run_id) == {p.pid}
        procs.kill_group(p.pid, run_id, grace_s=2)
        p.wait(5)
        assert procs.survivors(run_id, p.pid, wait_s=0) == set()
    finally:
        if p.poll() is None:
            p.kill()


# -- seeded inputs ---------------------------------------------------------


def test_elt_resent_rows_follow_the_seed():
    a = elt.resent_ids(7, 3, 100_000)
    assert a == elt.resent_ids(7, 3, 100_000)
    assert a != elt.resent_ids(8, 3, 100_000)
    assert len(set(a)) == elt.DAILY_RESENT and max(a) < 100_000


def test_lake_rows_follow_the_seed():
    keys = list(range(50))
    assert lake.gen_rows(random.Random(3), keys) == lake.gen_rows(random.Random(3), keys)
    assert lake.gen_rows(random.Random(3), keys) != lake.gen_rows(random.Random(4), keys)


def test_curation_order_follows_the_seed():
    def order(seed):
        w = curation.Workload(None, None, "unused", seed)
        return [[n for n, _ in w._pass()] for _ in range(3)]

    assert order(5) == order(5)
    assert order(5) != order(6)
    assert sorted(set(order(5)[0])) == sorted(curation.QUERIES)
