"""dist/hex2vec_spark.zip (the spark-submit --py-files bundle, built by
tools/make_pyfiles.py) carries exactly the package's current sources."""

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyfiles_zip_matches_package():
    pkg = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, "hex2vec_spark")):
        for f in files:
            if f.endswith(".py") and "__pycache__" not in root:
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    pkg[os.path.relpath(full, REPO)] = fh.read()
    with zipfile.ZipFile(os.path.join(REPO, "dist", "hex2vec_spark.zip")) as z:
        zipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    assert sorted(zipped) == sorted(pkg), "rebuild with: python tools/make_pyfiles.py"
    stale = [n for n in pkg if zipped[n] != pkg[n]]
    assert not stale, f"stale in the zip: {stale}; rebuild with: python tools/make_pyfiles.py"
