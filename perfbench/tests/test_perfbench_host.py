"""Steal accounting on /proc/stat readings."""

from perfbench.host import steal_share, unstolen

# user nice system idle iowait irq softirq steal guest guest_nice
BEFORE = [1000, 0, 100, 5000, 10, 0, 20, 50, 0, 0]


def after(user, system, idle, iowait, steal):
    d = [user, 0, system, idle, iowait, 0, 0, steal, 0, 0]
    return [a + b for a, b in zip(BEFORE, d)]


def test_steal_share_counts_only_wanted_time():
    # 300 busy + 100 stolen jiffies wanted; idle and iowait do not count
    assert steal_share(BEFORE, after(250, 50, 900, 40, 100)) == 0.25
    assert steal_share(BEFORE, after(250, 50, 0, 0, 100)) == 0.25


def test_steal_share_degenerate_readings():
    assert steal_share(BEFORE, BEFORE) == 0.0
    assert steal_share([], BEFORE) == 0.0


def test_unstolen_removes_the_stolen_share():
    assert unstolen(8.0, 0.25) == 6.0
    assert unstolen(8.0, 0.0) == 8.0
