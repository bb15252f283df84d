"""`package_zip`: the shipped package zip is named by its contents."""

import os
import zipfile

from quickwit_spark.session import package_zip


def _tree(d, body: str):
    (d / "sub").mkdir(parents=True)
    (d / "__init__.py").write_text("")
    (d / "sub" / "m.py").write_text(body)
    (d / "sub" / "notes.txt").write_text("not shipped")


def test_package_zip_path_follows_contents(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _tree(a, "X = 1\n")
    _tree(b, "X = 2\n")
    za, zb = package_zip(str(a)), package_zip(str(b))
    try:
        # two trees with different contents never share a zip
        assert za != zb
        assert os.path.basename(za).startswith("quickwit_spark_pkg-")
        # the same contents map to the same zip, whatever the mtimes
        os.utime(a / "sub" / "m.py", (0, 0))
        assert package_zip(str(a)) == za
        with zipfile.ZipFile(zb) as zf:
            assert sorted(zf.namelist()) == [
                "quickwit_spark/__init__.py", "quickwit_spark/sub/m.py",
            ]
            assert zf.read("quickwit_spark/sub/m.py") == b"X = 2\n"
    finally:
        for z in (za, zb):
            os.remove(z)
