"""``sagan_spark.pydaemon``'s path filter, without Spark: Spark's jar
and zips leave the path only when the directories left load the same
pyspark and a py4j, and their importer-cache entries go with them."""

from __future__ import annotations

import zipfile

import pytest

from sagan_spark.pydaemon import evict, spark_free_path

VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _pkg(root, rel: str, data: bytes = b"") -> None:
    f = root / rel
    f.parent.mkdir(parents=True, exist_ok=True)
    f.write_bytes(data)


@pytest.fixture
def layout(tmp_path):
    """A site dir with pyspark and py4j, Spark's three archives, a user
    zip and an ordinary source dir."""
    site, src = tmp_path / "site", tmp_path / "src"
    _pkg(site, "pyspark/version.py", VERSION)
    _pkg(site, "py4j/__init__.py")
    src.mkdir()
    lib = tmp_path / "lib"
    lib.mkdir()
    spark = [
        _zip(lib / "pyspark.zip", {"pyspark/version.py": VERSION}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""}),
        _zip(lib / "spark-core_2.13-4.1.2.jar", {"org/x.class": b""}),
    ]
    user = _zip(tmp_path / "deps.zip", {"deps/__init__.py": b""})
    return {"site": site, "spark": spark, "user": user, "src": str(src)}


def test_spark_archives_dropped_user_entries_kept(layout):
    path = [layout["src"], *layout["spark"], layout["user"], "", str(layout["site"])]
    assert spark_free_path(path) == [layout["src"], layout["user"], "", str(layout["site"])]


def test_version_mismatch_keeps_path(layout):
    (layout["site"] / "pyspark/version.py").write_bytes(b'__version__: str = "4.0.0"\n')
    path = [*layout["spark"], str(layout["site"])]
    assert spark_free_path(path) == path


@pytest.mark.parametrize("missing", ["pyspark", "py4j"])
def test_no_installed_package_keeps_path(layout, missing):
    for f in (layout["site"] / missing).iterdir():
        f.unlink()
    path = [*layout["spark"], layout["user"], str(layout["site"])]
    assert spark_free_path(path) == path


def test_evict_dropped_archives_and_sub_entries(layout):
    jar, zip_ = layout["spark"][2], layout["spark"][0]
    keep = [layout["user"], f"{layout['user']}/deps", f"{jar}.bak", str(layout["site"])]
    cache = dict.fromkeys([jar, f"{jar}/org", zip_, f"{zip_}/pyspark/sql", *keep])
    evict(cache, [jar, zip_])
    assert list(cache) == keep
