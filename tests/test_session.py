"""The driver-heap default fits the machine (session.py)."""

from chainweb_data_spark.session import default_driver_memory

GIB = 2**30


def test_driver_memory_is_half_the_machine_capped_at_48g():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(96 * GIB) == "49152m"  # exactly 48g
    assert default_driver_memory(512 * GIB) == "49152m"
    # this machine: never more than half its memory, never past the cap
    here = int(default_driver_memory()[:-1])
    assert 0 < here <= 48 * 1024
