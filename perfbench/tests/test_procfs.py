"""The /proc probe degrades to an absent reading, never to a crash or 0."""

import subprocess
import sys

from perfbench import procfs


def test_no_jvm_means_absent_readings_with_a_reason():
    probe = procfs.JvmProbe()  # the test process has no java child
    assert probe.jvm_pid is None
    assert probe.reason
    assert probe.cpu_s() is None
    assert probe.peak_rss_mb() is None


def test_descendants_find_a_grandchild():
    code = "import subprocess, sys; subprocess.run([sys.executable, '-c', 'import time; time.sleep(30)'])"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        import time

        deadline = time.monotonic() + 10
        while len(procfs.descendants(procfs.os.getpid())) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        found = procfs.descendants(procfs.os.getpid())
        assert child.pid in found and len(found) >= 2
    finally:
        for pid in procfs.descendants(procfs.os.getpid()):
            try:
                procfs.os.kill(pid, 9)
            except ProcessLookupError:
                pass
        child.wait(timeout=10)
    assert child.poll() is not None


def test_stat_parsing_survives_odd_process_names(tmp_path, monkeypatch):
    stat = "42 (odd ) name) S 1 " + " ".join(["0"] * 9) + " 7 3 2 1 " + " ".join(["0"] * 30)
    real_open = open

    def fake_open(path, *a, **k):
        if path == "/proc/42/stat":
            p = tmp_path / "stat"
            p.write_text(stat)
            return real_open(p, *a, **k)
        return real_open(path, *a, **k)

    monkeypatch.setattr("builtins.open", fake_open)
    fields = procfs._stat_fields(42)
    assert fields[0] == "odd ) name" and fields[2] == "1"
    assert procfs._cpu_ticks(42, with_children=False) == 10
    assert procfs._cpu_ticks(42, with_children=True) == 13
    assert procfs._cpu_ticks(43, with_children=True) is None
