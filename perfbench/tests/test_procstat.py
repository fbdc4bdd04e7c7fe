import os
import subprocess
import sys
import time

from perfbench import procstat


def _fake_proc(root, pid, ppid, ticks, hwm_kb=None, comm="py (x) y"):
    d = root / str(pid)
    d.mkdir()
    # fields after comm: state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime ...
    ut, st, cut, cst = ticks
    (d / "stat").write_text("{} ({}) S {} 1 1 0 -1 0 0 0 0 0 {} {} {} {} 20 0 1\n".format(
        pid, comm, ppid, ut, st, cut, cst))
    status = "Name:\tx\n"
    if hwm_kb is not None:
        status += "VmHWM:\t{} kB\nVmRSS:\t1 kB\n".format(hwm_kb)
    (d / "status").write_text(status)


def test_parse_stat_handles_spaces_and_parens_in_comm():
    ppid, ticks = procstat.parse_stat(
        "42 (a (b) c) S 7 1 1 0 -1 0 0 0 0 0 10 20 30 40 20 0 1")
    assert (ppid, ticks) == (7, 100)


def test_tree_sums_live_descendants_only(tmp_path):
    _fake_proc(tmp_path, 10, 1, (100, 50, 25, 25), hwm_kb=2048)   # root
    _fake_proc(tmp_path, 11, 10, (10, 10, 0, 0), hwm_kb=1024)     # child
    _fake_proc(tmp_path, 12, 11, (1, 1, 0, 0))                    # zombie
    _fake_proc(tmp_path, 20, 1, (999, 999, 0, 0), hwm_kb=9999)    # stranger
    (tmp_path / "self").mkdir()
    assert sorted(procstat.tree_pids(10, str(tmp_path))) == [10, 11, 12]
    clk = os.sysconf("SC_CLK_TCK")
    assert procstat.tree_cpu_s(10, str(tmp_path)) == (200 + 20 + 2) / clk
    assert procstat.peak_rss_by_pid_mb(10, str(tmp_path)) == {10: 2.0, 11: 1.0, 12: 0.0}


def test_live_tree_counts_a_child_and_its_reaped_grandchild():
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass\n"
    # the child spawns and reaps a CPU-burning grandchild, then burns itself
    child_src = ("import subprocess,sys\n"
                 "subprocess.run([sys.executable,'-c',{!r}])\n{}"
                 "sys.stdin.read()\n").format(burn, burn)
    before = procstat.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", child_src], stdin=subprocess.PIPE)
    try:
        deadline = time.time() + 30
        while procstat.tree_cpu_s() - before < 0.6 and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in procstat.tree_pids(os.getpid())
        assert procstat.tree_cpu_s() - before >= 0.6
        rss = procstat.peak_rss_by_pid_mb()
        assert rss[os.getpid()] > 0 and rss[child.pid] > 0
    finally:
        child.stdin.close()
        child.wait(timeout=30)


def test_steal_reads_the_cpu_line_of_proc_stat(tmp_path):
    (tmp_path / "stat").write_text(
        "cpu  100 0 50 900 5 0 7 250 0 0\ncpu0 50 0 25 450 2 0 3 125 0 0\n")
    assert procstat.steal_s(str(tmp_path)) == 250 / os.sysconf("SC_CLK_TCK")
    assert procstat.steal_s() >= 0


def test_litmus_is_positive():
    assert procstat.cpu_litmus_s(rounds=1, n=1000) > 0
