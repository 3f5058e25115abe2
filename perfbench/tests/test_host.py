"""Process-tree accounting and the host probe."""

import os
import subprocess
import sys
import time

import host


def test_tree_counts_children_cpu_after_exit():
    before = host.tree_cpu_s(host.tree_pids())
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.time()\nwhile time.time()-t<0.5: pass"],
                   check=True)
    # the child was reaped, so its CPU shows in this process's cstime/cutime
    assert host.tree_cpu_s(host.tree_pids()) - before >= 0.4


def test_peak_rss_sees_freed_memory_and_resets():
    # the child touches 200 MB, frees it, reports, then idles
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nx = bytearray(200 << 20)\n"
         "del x\nprint('freed', flush=True)\ntime.sleep(10)"],
        stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "freed"
        pids = host.tree_pids()
        assert child.pid in pids
        assert host.tree_peak_rss_mb([child.pid]) >= 200
        host.reset_peak_rss([child.pid])
        assert host.tree_peak_rss_mb([child.pid]) < 100
        assert host.tree_peak_rss_mb(pids) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
        child.stdout.close()


def _hogs(n, seconds):
    code = f"import time\nt=time.time()\nwhile time.time()-t<{seconds}: pass"
    return [subprocess.Popen([sys.executable, "-c", code]) for _ in range(n)]


def test_probe_flags_a_contended_window():
    probe = host.HostProbe()
    probe.calibrate()
    hogs = _hogs(probe.procs, 4.0)
    try:
        time.sleep(1.0)      # let the hogs start spinning
        busy = probe.read("busy")
    finally:
        for h in hogs:
            h.wait(timeout=10)
    assert host.contended([busy], steal_share=0.0)
    assert host.contended([{"ratio": 1.0}], steal_share=0.05)
    assert not host.contended([{"ratio": 1.0}], steal_share=0.0)


def test_probe_leaves_no_process_behind():
    probe = host.HostProbe()
    probe.calibrate()
    probe.read("again")
    assert host.tree_pids() == [os.getpid()]


def test_end_all_waits_for_and_kills_non_children():
    # a shell starts a sleeper in the background and exits; the sleeper is
    # not this process's child, like a worker left by a daemon that ended
    out = subprocess.run(["sh", "-c", "sleep 30 >/dev/null 2>&1 & echo $!"],
                         capture_output=True, text=True, check=True)
    orphan = int(out.stdout)
    t = time.time()
    host.end_all([orphan], timeout=0.5)
    assert not host._alive(orphan)
    assert time.time() - t < 5
