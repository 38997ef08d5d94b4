"""Session sizing: the default driver heap fits the box it runs on."""

from __future__ import annotations

import os

from postgresql_cdc_spark.session import default_driver_memory


def test_default_driver_memory_fits_the_box():
    mib = int(default_driver_memory().removesuffix("m"))
    phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < mib <= 48 * 1024
    assert mib <= phys_mib // 2
