"""The package zip shipped to executor Python workers (session.py)."""

from __future__ import annotations

import os

from curw_wrf_data_pusher_spark.session import package_zip


def test_package_zip_named_by_content(tmp_path):
    """Two package contents give two zips; the same content reuses
    one, whichever process built it."""
    import zipfile

    pkg = tmp_path / "src" / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("A = 1\n")
    (pkg / "sub" / "mod.py").write_text("B = 2\n")
    (pkg / "notes.txt").write_text("not shipped\n")
    out = tmp_path / "out"
    out.mkdir()

    first = package_zip(str(pkg), str(out))
    mtime = os.stat(first).st_mtime_ns
    assert package_zip(str(pkg), str(out)) == first
    assert os.stat(first).st_mtime_ns == mtime  # reused, not rewritten
    with zipfile.ZipFile(first) as zf:
        assert sorted(zf.namelist()) == ["pkg/__init__.py", "pkg/sub/mod.py"]
        assert zf.read("pkg/__init__.py") == b"A = 1\n"

    (pkg / "__init__.py").write_text("A = 3\n")
    second = package_zip(str(pkg), str(out))
    assert second != first
    with zipfile.ZipFile(second) as zf:
        assert zf.read("pkg/__init__.py") == b"A = 3\n"
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(p) for p in (first, second)
    )  # no temporary file left behind
