"""Per-process staging protocol (operators/scale._commit_stage through
``shared_stage``): a content-keyed stage is built in a private sibling
dir and committed by one atomic ``os.rename`` into
``process_stage_dir(prefix)/key``, so neither a failed writer nor a
racing thread can expose a torn stage. Staging a new key retires the
superseded one, and ``reset_staging`` forces the next call to write.

These tests drive the helper with plain-python writers: the protocol
is filesystem-level and Spark-agnostic. The Spark call sites
(events_from_jsonl/xml/orc, scan_merge_schema, the ORC/fazip/jsonl.gz
round-trips, PPM/wds fixtures, streaming landing) are covered by their
own oracle rows.
"""

from __future__ import annotations

import os
import threading

import pytest

from firstamerican_etl_spark.operators import scale
from firstamerican_etl_spark.operators.scale import (
    process_stage_dir,
    reset_staging,
    shared_stage,
)


@pytest.fixture(autouse=True)
def _own_stage_dirs(monkeypatch):
    """Give each test an empty prefix registry, so resets and retires
    here never touch the stages other test modules hold, and remove
    everything the test staged."""
    monkeypatch.setattr(scale, "_STAGE_DIRS", {})
    yield
    reset_staging()


def _writer(calls: list, text: str = "v1"):
    def write(p):
        calls.append(p)
        os.makedirs(p)
        with open(os.path.join(p, "data.txt"), "w") as fh:
            fh.write(text)

    return write


def test_shared_stage_writes_then_reuses():
    calls: list = []
    d1 = shared_stage("sstest", "k1", _writer(calls))
    assert d1 == os.path.join(process_stage_dir("sstest"), "k1")
    assert open(os.path.join(d1, "data.txt")).read() == "v1"
    assert os.path.exists(os.path.join(d1, "_SUCCESS"))  # stamped for us
    d2 = shared_stage("sstest", "k1", _writer(calls, "v2"))
    assert d2 == d1 and len(calls) == 1  # second call reused, no rewrite
    # the tmp build dir never leaks
    assert os.listdir(process_stage_dir("sstest")) == ["k1"]


def test_shared_stage_failed_writer_leaves_nothing():
    def boom(p):
        os.makedirs(p)
        open(os.path.join(p, "partial.txt"), "w").write("torn")
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError, match="writer died"):
        shared_stage("sstest", "k1", boom)
    # no torn commit, and the tmp dir is cleaned up
    assert os.listdir(process_stage_dir("sstest")) == []


def test_two_threads_one_key_commit_single_generation():
    """Two threads stage one key with both writes in flight. Exactly
    one generation commits: the stage is internally consistent (every
    file from ONE writer), both threads get the same path, and the
    loser's tmp dir is gone."""
    both_writing = threading.Barrier(2)

    def write(p):
        os.makedirs(p)
        both_writing.wait(timeout=10)
        me = threading.current_thread().name
        for i in range(20):
            with open(os.path.join(p, f"part-{i:02d}.txt"), "w") as fh:
                fh.write(me)

    out: dict[str, str] = {}

    def run():
        out[threading.current_thread().name] = shared_stage("sstest", "k1", write)

    threads = [threading.Thread(target=run, name=f"w{i}") for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert set(out) == {"w0", "w1"}
    final = os.path.join(process_stage_dir("sstest"), "k1")
    assert set(out.values()) == {final}
    parts = [f for f in os.listdir(final) if f.startswith("part-")]
    assert len(parts) == 20
    writers = {open(os.path.join(final, f)).read() for f in parts}
    assert len(writers) == 1  # one writer's generation, never a mix
    assert os.listdir(process_stage_dir("sstest")) == ["k1"]


def test_lost_rename_onto_incomplete_stage_raises():
    """A committed stage is complete by construction, so a final dir
    without its markers is not a winner to adopt: the commit raises
    instead of trusting it, and the writer's tmp dir is removed."""
    final = os.path.join(process_stage_dir("sstest"), "k1")
    os.makedirs(final)
    open(os.path.join(final, "stale.txt"), "w").write("not a stage")

    with pytest.raises(OSError):
        shared_stage("sstest", "k1", _writer([]))
    assert os.listdir(process_stage_dir("sstest")) == ["k1"]
    assert os.listdir(final) == ["stale.txt"]


def test_superseded_key_is_retired():
    calls: list = []
    old = shared_stage("sstest", "k1", _writer(calls))
    new = shared_stage("sstest", "k2", _writer(calls, "v2"))
    assert len(calls) == 2
    assert not os.path.exists(old)
    assert os.listdir(process_stage_dir("sstest")) == ["k2"]
    assert open(os.path.join(new, "data.txt")).read() == "v2"


def test_reset_staging_forces_a_rewrite():
    """driver_sim's ANSI-on pass resets staging so its staged subtrees
    execute again under the new session config: after the reset, the
    same (prefix, key) must run ``write_fn`` again."""
    calls: list = []
    first = shared_stage("sstest", "k1", _writer(calls))
    shared_stage("sstest", "k1", _writer(calls))
    assert len(calls) == 1
    reset_staging()
    assert not os.path.exists(first)
    again = shared_stage("sstest", "k1", _writer(calls, "v2"))
    assert len(calls) == 2
    assert open(os.path.join(again, "data.txt")).read() == "v2"
