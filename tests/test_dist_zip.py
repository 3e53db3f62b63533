"""dist/pi2spark.zip is what executors import under --py-files: its
modules must be the package's sources, byte for byte. Rebuild it with
``python tools/make_pyfiles.py`` after changing any module."""

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dist_zip_matches_sources():
    pkg = os.path.join(REPO, "pi2spark")
    sources = {}
    for root, _, names in os.walk(pkg):
        for n in names:
            if n.endswith(".py"):
                full = os.path.join(root, n)
                with open(full, "rb") as fh:
                    sources[os.path.relpath(full, REPO).replace(os.sep, "/")] = fh.read()
    with zipfile.ZipFile(os.path.join(REPO, "dist", "pi2spark.zip")) as z:
        packed = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    assert sorted(packed) == sorted(sources)
    stale = [n for n in sources if packed[n] != sources[n]]
    assert not stale, f"dist/pi2spark.zip is stale for {stale}; run tools/make_pyfiles.py"
