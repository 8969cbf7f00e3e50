"""doc_ocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the extraction semantics of the reference
``xinge-ji/doc-ocr`` (single-request FastAPI OCR + template-driven layout
analysis; see SURVEY.md) as a batch pipeline over Common-Crawl-style page
tables ``(url, warc_ts, html, text, lang)``:

- ``core/``       pure-Python, Spark-free extraction kernel (HTML tokenizer,
                  boilerplate classifier, PDF-like layout analysis, template
                  field extraction, validation).  This single module is both
                  the golden-set generator and the distributed kernel.
- ``kernel.py``   Arrow-batch wrapper (``mapInArrow``) around the core.
- ``job.py``      the spark-submit batch job: kernel -> ``part_bucket``
                  exchange of the extracted rows (``extract_bucketed``) ->
                  output + per-partition lineage, checkpoint/resume.
- ``operators/``  relational re-expressions (sessionization, range joins,
                  top-k) and training-data ops (dedup, similarity, textstats).
- ``datagen.py``  deterministic synthetic corpus (fixture families).

Importing the package also makes ``zipimporter.invalidate_caches`` skip
archives that have not changed (``_stat_keyed_zip_invalidation``).  Every
engine function shipped to a Python worker imports this package when it
is unpickled, so this one place covers every Python boundary.
"""

import os
import zipimport

__version__ = "0.1.0"


def _stat_keyed_zip_invalidation(zipimporter: type) -> bool:
    """Key ``zipimporter.invalidate_caches`` on the archive's ``os.stat``.

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``).  Where the stdlib zipimporter
    re-reads eagerly (3.11, 3.12), that re-parses the central directory of
    pyspark.zip (1,328 entries) once per zipimporter on ``sys.path`` --
    16 in a warm worker -- although the archive never changes.  Here an
    archive whose (mtime_ns, size, inode) is the one its cached directory
    was read under is not read again; a rewritten archive is re-read once,
    by the first importer that sees the new stat, and every other importer
    of it takes that read from ``zipimport._zip_directory_cache``.

    The stat is taken before the read, so an archive rewritten during the
    read is recorded under its old stat and re-read at the next call.
    Interpreters whose zipimporter reads lazily (``_get_files``, 3.13+)
    only drop a cache entry on invalidation and are left as they are.
    Returns whether the replacement was installed.
    """
    stock = zipimporter.invalidate_caches
    if hasattr(zipimporter, "_get_files") or hasattr(stock, "stat_keyed"):
        return False
    read_under: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            read_under.pop(self.archive, None)
            stock(self)
            return
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = read_under.get(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if seen is not None and seen[0] == key and seen[1] is files:
            self._files = files
            return
        stock(self)
        read_under[self.archive] = (key, self._files)

    invalidate_caches.stat_keyed = True
    zipimporter.invalidate_caches = invalidate_caches
    return True


_stat_keyed_zip_invalidation(zipimport.zipimporter)
