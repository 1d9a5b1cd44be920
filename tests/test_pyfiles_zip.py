"""The committed dist/pbi_kg.zip (the ``spark-submit --py-files``
artifact built by make_pyfiles.sh) must ship the package as it is in
the tree.  Entries are compared by name and bytes, not by the zip's
digest, because zip entries store file mtimes."""

import pathlib
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "powerbi_ontology_extractor_spark"


def test_dist_zip_matches_package():
    tree = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in sorted((ROOT / PACKAGE).rglob("*.py"))
    }
    with zipfile.ZipFile(ROOT / "dist" / "pbi_kg.zip") as z:
        shipped = {name: z.read(name) for name in z.namelist()}
    assert sorted(shipped) == sorted(tree), "rebuild with ./make_pyfiles.sh"
    stale = sorted(n for n in tree if shipped[n] != tree[n])
    assert not stale, f"stale in dist/pbi_kg.zip (run ./make_pyfiles.sh): {stale}"
