"""The fused extraction generator leaves its Python worker with no
cached zipimporter, so the next task's `importlib.invalidate_caches()`
has no archive to re-read, and imports from a zip still work after."""

import sys
import zipfile
import zipimport

import pyarrow as pa

from ontonotes_5_parsing_spark.pipeline.stages import _extract_parse_batches_impl

PKG = "kg_zip_probe_pkg"


def zip_importers() -> list:
    return [
        path
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]


def test_fused_generator_drops_cached_zipimporters(tmp_path):
    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/first.py", "VALUE = 1\n")
        z.writestr(f"{PKG}/second.py", "VALUE = 2\n")
    sys.path.insert(0, str(archive))
    try:
        from kg_zip_probe_pkg import first

        assert first.VALUE == 1
        assert str(archive) in zip_importers()

        page = pa.RecordBatch.from_pydict(
            {
                "url": ["https://t.example/1"],
                "lang": ["en"],
                "html": [b"<html><body><p>Obama visited Paris .</p></body></html>"],
            }
        )
        batches = list(_extract_parse_batches_impl(iter([page])))
        assert len(batches) == 1 and batches[0].num_rows == 1
        assert zip_importers() == []

        from kg_zip_probe_pkg import second

        assert second.VALUE == 2
        assert isinstance(second.__loader__, zipimport.zipimporter)
    finally:
        sys.path.remove(str(archive))
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
            del sys.path_importer_cache[path]
