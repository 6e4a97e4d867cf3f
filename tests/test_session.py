"""Session defaults sized from the host: the default JVM heap."""

from __future__ import annotations

import pytest

from advanced_strapi_import_spark.session import heap_size

GIB_KB = 1024 * 1024


def _meminfo(gib: float) -> str:
    return (f"MemTotal:       {int(gib * GIB_KB)} kB\n"
            "MemFree:         1024 kB\nMemAvailable:    2048 kB\n")


@pytest.mark.parametrize("mem_gib, cgroup, want", [
    (15.7, None, "7g"),                       # no cgroup file: half of MemTotal
    (15.7, "max\n", "7g"),                    # cgroup v2 without a limit
    (15.7, "9223372036854771712\n", "7g"),    # cgroup v1 without a limit
    (64, str(10 * 1024 ** 3) + "\n", "5g"),   # a cgroup limit below MemTotal
    (128, None, "24g"),                       # capped at 24g
    (1.5, None, "1g"),                        # at least 1g
    (64, str(512 * 1024 ** 2), "1g"),
])
def test_heap_size_is_half_the_usable_memory(mem_gib, cgroup, want):
    assert heap_size(_meminfo(mem_gib), cgroup) == want
