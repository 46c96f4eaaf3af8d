"""session.package_zip: the worker-shipped package zip is named by a hash
of the package sources and shared across calls and processes."""

import os
import zipfile

from oshdb_spark.session import package_zip


def test_package_zip_is_shared(tmp_path):
    first = package_zip(str(tmp_path))
    second = package_zip(str(tmp_path))
    assert first == second
    assert os.listdir(tmp_path) == [os.path.basename(first)]
    with zipfile.ZipFile(first) as z:
        names = z.namelist()
    assert "oshdb_spark/__init__.py" in names
    assert "oshdb_spark/operators/snapshot.py" in names


def test_package_zip_in_another_process(tmp_path):
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; from oshdb_spark.session import package_zip; "
        "print(package_zip(sys.argv[1]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        cwd=root, check=True, capture_output=True, text=True,
    ).stdout.strip()
    assert out == package_zip(str(tmp_path))
    assert len(os.listdir(tmp_path)) == 1
