"""Counts ``ocr_media_ref`` calls in Spark's Python workers.

The traced run puts this directory first on the workers' ``PYTHONPATH``
and names a counter file in ``$PERFBENCH_KERNEL_CALLS``; Python imports
this module at start-up, before the worker daemon forks, and every call
of ``ocr_spark.core.extract.ocr_media_ref`` then appends one byte to the
file.  The file's size is the number of media rows sent to the kernel.
"""

import os

_PATH = os.environ.get("PERFBENCH_KERNEL_CALLS")

if _PATH:
    from ocr_spark.core import extract as _extract

    _real = _extract.ocr_media_ref

    def ocr_media_ref(*args, **kwargs):
        with open(_PATH, "ab") as fh:
            fh.write(b".")
        return _real(*args, **kwargs)

    _extract.ocr_media_ref = ocr_media_ref
