"""Stage-once contract for query inputs (``queries._stage_once``): each
staged input is written once per process into a fresh dir, recorded only
after its write returns, and reused by every later call."""

import os
import shutil
import subprocess
import sys

import pytest

from hdfs_stream_processing_spark import queries as Q

from tests.conftest import SF_DIR


def test_failed_staging_leaves_no_entry_and_retries_in_a_new_dir():
    attempts = []

    @Q._stage_once
    def _stage_probe(out, spark, tag):
        attempts.append(out)
        with open(os.path.join(out, "part-0"), "w") as f:
            f.write(tag)
        if len(attempts) == 1:
            raise OSError("disk full")

    with pytest.raises(OSError):
        _stage_probe(None, "retry")
    assert not [k for k in Q._STAGE_CACHE if k[1] == _stage_probe.__qualname__]
    assert not os.path.exists(attempts[0])  # the partial copy is gone

    out = _stage_probe(None, "retry")
    assert out == attempts[1] != attempts[0]
    assert os.listdir(out) == ["part-0"]
    shutil.rmtree(out)


def test_second_call_reuses_the_dir_without_writing():
    attempts = []

    @Q._stage_once
    def _stage_probe(out, spark, tag):
        attempts.append(out)

    first = _stage_probe(None, "a")
    assert _stage_probe(None, "a") == first
    assert attempts == [first]
    # the key is the stager's name plus its arguments
    other = _stage_probe(None, "b")
    assert other != first and attempts == [first, other]
    for d in attempts:
        shutil.rmtree(d)


REPO = os.path.dirname(os.path.dirname(os.path.abspath(Q.__file__)))


def _run_python(code: str) -> list[str]:
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, check=True, timeout=120,
    )
    return out.stdout.split()


def test_scratch_dirs_are_removed_when_their_process_exits():
    made, existed = _run_python(
        "import os\n"
        "from hdfs_stream_processing_spark import queries as Q\n"
        "d = Q._mkdtemp('hsp_probe_')\n"
        "print(d, os.path.isdir(d))\n"
    )
    assert existed == "True"
    assert not os.path.exists(made)
    assert not os.path.exists(os.path.dirname(made))  # the per-process root


def test_a_forked_child_leaves_its_parents_scratch_dirs():
    made, child_saw, parent_saw = _run_python(
        "import os, sys\n"
        "from hdfs_stream_processing_spark import queries as Q\n"
        "d = Q._mkdtemp('hsp_probe_')\n"
        "print(d, flush=True)\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    print(os.path.isdir(d), flush=True)\n"
        "    sys.exit(0)\n"
        "os.waitpid(pid, 0)\n"
        "print(os.path.isdir(d))\n"
    )
    assert (child_saw, parent_saw) == ("True", "True")
    assert not os.path.exists(made)


def _tmp_files() -> dict[str, tuple[int, int]]:
    base = os.path.join(REPO, ".tmp")
    files = {}
    for root, _, names in os.walk(base):
        for n in names:
            st = os.stat(os.path.join(root, n))
            files[os.path.join(root, n)] = (st.st_ino, st.st_mtime_ns)
    return files


def test_stream_wire_ingest_second_call_rewrites_no_source_file(spark, tmp_path):
    # a private copy of the events table: an sf_dir no earlier call staged
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(f"{SF_DIR}/events.parquet", f"{sf}/events.parquet")
    fn = Q.QUERIES["stream_wire_ingest"]

    before = _tmp_files()
    n_first = fn(spark, sf).count()
    staged = {p: v for p, v in _tmp_files().items() if before.get(p) != v}
    assert staged  # the first call wrote the wire source
    n_second = fn(spark, sf).count()
    after = _tmp_files()
    assert n_second == n_first
    assert {p: after.get(p) for p in staged} == staged
