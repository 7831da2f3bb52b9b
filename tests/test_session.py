"""Package shipping (``session.ship_package``): sessions started at the
same time must not share one zip file."""

import hashlib
from pathlib import Path
from types import SimpleNamespace

from addok_spark.session import ship_package


def test_ship_package_writes_one_zip_per_call():
    shipped: list[str] = []
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(addPyFile=shipped.append)
    )
    first = Path(ship_package(spark))
    before = (hashlib.sha256(first.read_bytes()).digest(),
              first.stat().st_mtime_ns, first.stat().st_ino)
    second = Path(ship_package(spark))
    assert first != second
    assert shipped == [str(first), str(second)]
    # the second call left the first session's zip exactly as it was
    assert (hashlib.sha256(first.read_bytes()).digest(),
            first.stat().st_mtime_ns, first.stat().st_ino) == before
