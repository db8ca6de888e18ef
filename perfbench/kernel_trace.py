"""Kernel-stage trace of ``core.extract.ocr_media_ref``, taken from outside.

The stage functions are wrapped under the names ``core/extract.py`` calls
them by (``extract.render``, ``detect.detect_lines``,
``extract.recognize_batch``, ...), for the duration of one in-process pass
without Spark over a sample of media refs.  Each wrapper charges its
*self* time (its wall time minus the wrapped calls nested inside it) to
its stage, so the stage times plus ``core.residual_ms`` add up to
``core.kernel_ms`` exactly.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# stage -> the (module attribute) names it covers, as core/extract.py
# reaches them
STAGES = {
    "render": [("extract", "render")],
    "seal_gray": [("detect", "remove_seal_to_gray")],
    "binarize": [("detect", "binarize")],
    "unit_scale": [("detect", "estimate_unit_scale")],
    "detect_lines": [("detect", "detect_lines"), ("detect", "split_qr_boxes")],
    "probe_rec": [("extract", "recognize_batch")],
    "full_rec": [("extract", "recognize_batch_cls")],
    "reading_order": [("extract", "sorted_boxes"), ("extract", "group_rows")],
    "deskew": [("extract", "_ranked_skew_angles"), ("extract", "rotate_image")],
}


class _Tracer:
    def __init__(self):
        self.self_s = {stage: 0.0 for stage in STAGES}
        self.pages = 0
        self.boxes = 0
        self.probe_batches = 0
        self.full_passes = 0
        self.pages_with_result = 0  # pages whose ladder ran >= 1 full pass
        self.deskew_pages = 0
        self._stack: list[float] = []  # nested time per open wrapper

    def wrap(self, stage: str, name: str, fn):
        def traced(*args, **kwargs):
            self._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                nested = self._stack.pop()
                self.self_s[stage] += dt - nested
                if self._stack:
                    self._stack[-1] += dt
            if name == "render":
                self.pages += len(out)
            elif name == "detect_lines":
                self.boxes += len(out)
            elif name == "recognize_batch":
                self.probe_batches += 1
            elif name == "recognize_batch_cls":
                self.full_passes += 1
            elif name == "_ranked_skew_angles":
                self.deskew_pages += 1
            return out

        return traced

    def page_boundary(self, fn):
        """Wrap ``extract.ocr_page_state`` (no stage of its own) to learn
        which pages ran a full pass."""

        def traced(*args, **kwargs):
            before = self.full_passes
            out = fn(*args, **kwargs)
            self.pages_with_result += self.full_passes > before
            return out

        return traced


@contextmanager
def _patched(tracer: _Tracer):
    from ocr_spark.core import detect, extract

    modules = {"detect": detect, "extract": extract}
    saved = []
    try:
        for stage, names in STAGES.items():
            for mod, name in names:
                fn = getattr(modules[mod], name)
                saved.append((modules[mod], name, fn))
                setattr(modules[mod], name, tracer.wrap(stage, name, fn))
        saved.append((extract, "ocr_page_state", extract.ocr_page_state))
        extract.ocr_page_state = tracer.page_boundary(extract.ocr_page_state)
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def _run(refs: list[str]) -> float:
    from ocr_spark.core import extract

    t0 = time.perf_counter()
    for ref in refs:
        extract.ocr_media_ref(ref)
    return time.perf_counter() - t0


def kernel_trace(refs: list[str]) -> dict[str, float]:
    """Per-ref stage times (ms) and per-page counts over ``refs`` (``#err``
    refs are skipped: they fail before any stage)."""
    refs = [r for r in refs if "#err" not in r]
    if not refs:
        return {}
    _run(refs[:4])  # first-call imports and caches
    tracer = _Tracer()
    with _patched(tracer):
        traced_s = _run(refs)
    n = len(refs)
    pages = max(tracer.pages, 1)
    out = {f"core.{stage}_ms": 1e3 * s / n for stage, s in tracer.self_s.items()}
    out["core.kernel_ms"] = 1e3 * traced_s / n
    out["core.residual_ms"] = out["core.kernel_ms"] - sum(
        1e3 * s / n for s in tracer.self_s.values()
    )
    out.update(
        {
            "core.pages": tracer.pages,
            "core.boxes_per_page": tracer.boxes / pages,
            "core.probes_per_page": tracer.probe_batches / pages,
            "core.full_passes_per_page": tracer.full_passes / pages,
            # a page keeps at most one full pass as its result
            "core.full_pass_useful_frac": (
                tracer.pages_with_result / tracer.full_passes
                if tracer.full_passes
                else 0.0
            ),
            "core.deskew_page_frac": tracer.deskew_pages / pages,
        }
    )
    return out

