"""In-process core-engine tracing from outside the program.

``CoreTracer`` wraps the public entry points of each ``core`` layer with a
span recorder (name, start, end, parent) and per-boundary counters.  Spans
stay in memory (flat arrays) while the traced loop runs; ``layer_stats``
turns them into self times (duration minus the time the span's direct
children cover), and ``dump`` writes them out at the end.

The wrappers patch module and class attributes and ``restore`` undoes
every patch; nothing inside ``pypdfproc_spark`` is edited.
"""

from __future__ import annotations

import time
from array import array
from collections import Counter

# (layer, owner attribute path, attribute) — the layer boundaries
_BOUNDARIES = (
    ("core.extract", "extract", "extract_document"),
    ("core.cos.open", "cos.PdfDocument", "__init__"),
    ("core.cos.pages", "cos.PdfDocument", "pages"),
    ("core.cos.page_content", "cos.PdfDocument", "page_content"),
    ("core.filters.decode", "filters", "decode_stream"),
    # the tokenizer as the interpreter binds it (interp imports the name)
    ("core.content.tokenize", "interp", "tokenize_content"),
    ("core.interp.interpret", "interp.PageInterpreter", "run_content"),
    ("core.fonts.get_glyph", "fonts.FontResolver", "get_glyph"),
    ("core.assemble", "assemble.TextAssembler", "feed_one"),
    ("core.assemble", "assemble.TextAssembler", "on_glyph_draw"),
    ("core.assemble", "assemble.TextAssembler", "on_text_run"),
    ("core.assemble", "assemble.TextAssembler", "on_page_end"),
    ("core.htmltext", "htmltext", "extract_main_text"),
)

LAYERS = sorted({b[0] for b in _BOUNDARIES})


def _owner(path: str):
    import importlib

    mod, _, cls = path.partition(".")
    m = importlib.import_module("pypdfproc_spark.core." + mod)
    return getattr(m, cls) if cls else m


class CoreTracer:
    def __init__(self):
        self.layer_id = {name: i for i, name in enumerate(LAYERS)}
        self.start = array("d")
        self.end = array("d")
        self.layer = array("i")
        self.parent = array("i")
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    # -- recording ----------------------------------------------------------

    def _wrap(self, layer: str, fn):
        lid = self.layer_id[layer]
        decode_id = self.layer_id["core.filters.decode"]
        tokenize_id = self.layer_id["core.content.tokenize"]
        stack, start, end = self._stack, self.start, self.end
        layers, parents, counts = self.layer, self.parent, self.counts
        clock = time.perf_counter

        def traced(*args, **kwargs):
            idx = len(start)
            parents.append(stack[-1] if stack else -1)
            layers.append(lid)
            start.append(clock())
            end.append(0.0)
            stack.append(idx)
            try:
                out = fn(*args, **kwargs)
            finally:
                end[idx] = clock()
                stack.pop()
            if lid == decode_id:
                counts["decoded_bytes"] += len(out)
            elif lid == tokenize_id:
                counts["ops"] += len(out)
            return out

        return traced

    def install(self) -> None:
        for layer, path, attr in _BOUNDARIES:
            owner = _owner(path)
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(layer, orig))
            self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def __enter__(self):
        self.install()
        return self

    def __exit__(self, *exc):
        self.restore()
        return False

    # -- analysis -----------------------------------------------------------

    def layer_stats(self) -> dict:
        """{layer: {"self_s", "calls"}}."""
        n = len(self.start)
        child = [0.0] * n
        for i in range(n):
            p = self.parent[i]
            if p >= 0:
                child[p] += self.end[i] - self.start[i]
        out = {name: {"self_s": 0.0, "calls": 0} for name in LAYERS}
        for i in range(n):
            st = out[LAYERS[self.layer[i]]]
            st["self_s"] += self.end[i] - self.start[i] - child[i]
            st["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        """Write the spans as parallel numpy arrays (``.npz``); ``layers``
        maps the ``layer`` ids to names."""
        import numpy as np

        np.savez(path, layers=np.array(LAYERS), layer=np.asarray(self.layer),
                 parent=np.asarray(self.parent), start=np.asarray(self.start),
                 end=np.asarray(self.end))
