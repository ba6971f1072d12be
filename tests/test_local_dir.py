"""Unit tests for the tmpfs shuffle-scratch selection in session.py.

Pure-Python (no SparkSession): `_scratch_local_dir` only picks a
directory; `get_spark` wiring is exercised by every Spark-backed test in
the suite (the conf is visible in the JVM command line) and by the
spark-submit e2e test.
"""

import os
import time

from tbbid_scrapy_spark import session


def test_env_override_wins(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    assert session._scratch_local_dir() == str(tmp_path)


def test_env_override_unusable_falls_back_to_none(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/proc/0/no_such_dir")
    assert session._scratch_local_dir() is None


def test_falls_back_to_none_without_dev_shm(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.setattr(
        session.os.path, "isdir", lambda p: False if p == "/dev/shm" else os.path.isdir(p)
    )
    assert session._scratch_local_dir() is None


def test_default_creates_per_pid_shm_subdir(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        import pytest

        pytest.skip("no writable /dev/shm on this box")
    d = session._scratch_local_dir()
    assert d == f"/dev/shm/spark_graft_local/pid{os.getpid()}"
    assert os.path.isdir(d)


def test_sweep_reclaims_dead_pid_dirs_only(tmp_path):
    dead = tmp_path / "pid999999999"  # beyond pid_max — never alive
    live = tmp_path / f"pid{os.getpid()}"
    dead.mkdir()
    live.mkdir()
    (dead / "shuffle_0_0_0.data").write_bytes(b"x")
    # a live pid dir must survive regardless of age
    old = time.time() - 48 * 3600
    os.utime(live, (old, old))
    session._sweep_stale_scratch(str(tmp_path))
    assert not dead.exists()
    assert live.exists()


def test_sweep_ages_out_only_non_pid_entries(tmp_path):
    stale = tmp_path / "blockmgr-legacy"
    fresh = tmp_path / "spark-live"
    stale.mkdir()
    fresh.mkdir()
    old = time.time() - 25 * 3600
    os.utime(stale, (old, old))
    session._sweep_stale_scratch(str(tmp_path), max_age_sec=24 * 3600)
    assert not stale.exists()
    assert fresh.exists()


def test_sweep_survives_missing_dir():
    session._sweep_stale_scratch("/nonexistent/path/xyz")  # no raise


def test_sweep_reclaims_recycled_pid_dirs(tmp_path):
    """A pid<N> dir whose mtime PREDATES process N's start belongs to a
    dead session whose PID was recycled — it must be reclaimed (without
    the start-time check it would pin tmpfs RAM for as long as the
    unrelated process lives). PID 1 is always alive; an epoch-1970 dir
    mtime is guaranteed older than any boot."""
    recycled = tmp_path / "pid1"
    recycled.mkdir()
    os.utime(recycled, (1000.0, 1000.0))
    session._sweep_stale_scratch(str(tmp_path))
    assert not recycled.exists()


def test_sweep_keeps_live_owner_pid_dir_fresh_mtime(tmp_path):
    """A pid dir younger than its (live) process is plausibly owned by
    it and must be kept — even for a foreign live PID."""
    owned = tmp_path / "pid1"
    owned.mkdir()  # fresh mtime: now > /proc/1 start
    session._sweep_stale_scratch(str(tmp_path))
    assert owned.exists()


def test_sweep_never_age_caps_live_owner_pid_dirs(monkeypatch, tmp_path):
    """A live owner's pid dir is kept at ANY age: the top-level mtime is
    set at creation and Spark only writes inside blockmgr-* subdirs, so
    the top-level mtime of any long-running session (a multi-day batch
    crawl, say) is permanently stale — the old 7-day hard cap would
    have rmtree'd its live shuffle/spill dirs mid-job (r4 ADVICE item).
    Simulated: a pid1 dir whose mtime is 30 days old but still AFTER
    /proc/1's (faked, older) start time."""
    owned = tmp_path / "pid1"
    owned.mkdir()
    fake_dir_mtime = time.time() - 30 * 24 * 3600
    real_getmtime = os.path.getmtime
    monkeypatch.setattr(
        session.os.path,
        "getmtime",
        lambda p: fake_dir_mtime if p == str(owned) else real_getmtime(p),
    )
    monkeypatch.setattr(
        session,
        "_proc_start_time",
        lambda pid: (fake_dir_mtime - 3600.0, "S") if pid == "1" else None,
    )
    session._sweep_stale_scratch(str(tmp_path))
    assert owned.exists()


def test_proc_start_time_is_true_start_not_dentry_mtime():
    """_proc_start_time must come from /proc/<pid>/stat field 22 +
    btime, never from /proc/<pid> mtime: procfs dentry timestamps are
    instantiation times that reset on cache eviction (measured on this
    box), and using them once inverted the sweep's safety property —
    a live foreign session's dir read as 'recycled' and was rmtree'd
    mid-job. Pin: our own start is between boot and now, and a
    just-spawned child's start is within seconds of now (a dentry-mtime
    implementation stat'ed later would drift)."""
    import subprocess

    now = time.time()
    self_info = session._proc_start_time(str(os.getpid()))
    assert self_info is not None
    start, state = self_info
    assert state not in ("Z", "X")
    assert 0 < start <= now + 2.0
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime "))
    assert start >= btime
    p = subprocess.Popen(["sleep", "5"])
    try:
        child = session._proc_start_time(str(p.pid))
        assert child is not None
        assert abs(child[0] - time.time()) < 5.0
        assert child[0] >= start  # child started after this test process
    finally:
        p.kill()
        p.wait()


def test_sweep_reclaims_zombie_owner_dirs(tmp_path):
    """A zombie (exited, unreaped) driver cannot be using scratch —
    without the state check its tmpfs dirs would be pinned for as long
    as the wedged parent lives."""
    import subprocess

    p = subprocess.Popen(["true"])
    deadline = time.time() + 10
    try:
        while time.time() < deadline:
            info = session._proc_start_time(str(p.pid))
            if info is not None and info[1] == "Z":
                break
            time.sleep(0.05)
        else:
            raise AssertionError("child never became a zombie")
        d = tmp_path / f"pid{p.pid}"
        d.mkdir()
        session._sweep_stale_scratch(str(tmp_path))
        assert not d.exists()
    finally:
        p.wait()  # reap
