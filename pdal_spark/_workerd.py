"""PySpark worker daemon that keeps zip importers' directory caches.

Selected by ``session.get_spark`` through ``spark.python.daemon.module``;
see that module's docstring for why the no-op below is safe.
"""

import zipimport


def keep_zip_directory(self):
    """``zipimporter.invalidate_caches`` as it was before Python 3.10."""


zipimport.zipimporter.invalidate_caches = keep_zip_directory

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
