"""Resource defaults fit the host the engine runs on."""

from __future__ import annotations

import pytest

from iot_database_spark.session import _default_driver_memory


@pytest.mark.parametrize(
    "meminfo, want",
    [
        ("MemTotal:       16456384 kB\nMemFree: 1234 kB\n", "7g"),  # 15.7 GiB
        ("MemTotal:      134217728 kB\n", "64g"),
        ("MemTotal:        2097152 kB\n", "1g"),  # half is exactly 1 GiB
        ("MemTotal:        1048576 kB\n", "1g"),  # never below 1g
        ("MemTotal: lots\n", "1g"),  # unreadable: Spark's own default
    ],
)
def test_driver_memory_is_half_of_memtotal(tmp_path, meminfo, want):
    path = tmp_path / "meminfo"
    path.write_text(meminfo)
    assert _default_driver_memory(str(path)) == want
    assert _default_driver_memory(str(tmp_path / "absent")) == "1g"
