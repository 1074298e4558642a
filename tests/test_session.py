"""Session defaults fit the host they run on."""

from gfp_gdal_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_memory_is_half_the_host_capped_at_16g():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(4 * GIB) == "2048m"
    assert default_driver_memory(32 * GIB) == "16384m"
    assert default_driver_memory(256 * GIB) == "16384m"
