"""Process-tree CPU and peak RSS sums over a fake /proc, and a sanity
check against this process's own accounting."""

import os
import time

import pytest

from perfbench import procfs

TCK = os.sysconf("SC_CLK_TCK")


def _proc(tmp_path, pid, ppid, utime, stime, cutime, cstime, hwm_kb):
    d = tmp_path / str(pid)
    d.mkdir()
    # comm with a space and a parenthesis, as a real one may have
    rest = [ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 30
    d.joinpath("stat").write_text(
        f"{pid} (py (worker) x) S " + " ".join(str(x) for x in rest) + "\n")
    d.joinpath("status").write_text(f"Name:\tx\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n")


def test_tree_sums_over_descendants_only(tmp_path):
    _proc(tmp_path, 10, 1, 100, 50, 7, 3, 1024)      # root
    _proc(tmp_path, 11, 10, 200, 20, 0, 0, 2048)     # child
    _proc(tmp_path, 12, 11, 30, 10, 0, 0, 512)       # grandchild
    _proc(tmp_path, 13, 1, 999, 999, 0, 0, 9999)     # unrelated
    (tmp_path / "stat").write_text("cpu  1 2 3 4 5 6 7 250 0 0\n")
    assert sorted(procfs.tree_pids(10, str(tmp_path))) == [10, 11, 12]
    cpu = procfs.tree_cpu_s(10, str(tmp_path))
    assert cpu == pytest.approx((100 + 50 + 7 + 3 + 200 + 20 + 30 + 10) / TCK)
    assert procfs.tree_peak_rss_mb(10, str(tmp_path)) == pytest.approx(3.5)
    assert procfs.steal_s(str(tmp_path)) == pytest.approx(250 / TCK)


def test_real_tree_counts_own_cpu():
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    own = sum(os.times()[:2])
    assert procfs.tree_cpu_s() >= own - 2.0 / TCK
    assert procfs.tree_peak_rss_mb() > 1.0


def test_is_running(tmp_path):
    _proc(tmp_path, 20, 1, 0, 0, 0, 0, 0)
    assert procfs.is_running(20, str(tmp_path))
    assert not procfs.is_running(21, str(tmp_path))
    stat = tmp_path / "20" / "stat"
    stat.write_text(stat.read_text().replace(" S ", " Z ", 1))
    assert not procfs.is_running(20, str(tmp_path))
