"""The spark-submit artifact must match the source tree.

dist/extractor_spark.zip is a build output (git-ignored, not tracked): a
committed copy drifted from HEAD before, so a spark-submit using it
silently ran older code.  This gate builds the zip with
scripts/make_pyfiles_zip.sh and diffs every member against the tree
byte-for-byte, listing missing/extra/stale members.
"""

import pathlib
import subprocess
import zipfile

REPO = pathlib.Path(__file__).resolve().parent.parent
ZIP = REPO / "dist" / "extractor_spark.zip"


def test_pyfiles_zip_matches_source_tree():
    subprocess.run(
        ["sh", str(REPO / "scripts" / "make_pyfiles_zip.sh")],
        check=True,
        capture_output=True,
    )
    src = {
        p.relative_to(REPO).as_posix(): p.read_bytes()
        for p in (REPO / "extractor_spark").rglob("*.py")
    }
    with zipfile.ZipFile(ZIP) as zf:
        members = {n: zf.read(n) for n in zf.namelist() if not n.endswith("/")}
    missing = sorted(set(src) - set(members))
    extra = sorted(set(members) - set(src))
    stale = sorted(n for n in set(src) & set(members) if src[n] != members[n])
    assert not (missing or extra or stale), (
        f"make_pyfiles_zip.sh does not package the source tree: "
        f"missing={missing} extra={extra} stale={stale}"
    )
