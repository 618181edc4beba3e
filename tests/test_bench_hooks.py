"""The benchmark's trace hooks (`perfbench/run.py::_patch_layers`) wrap
the package's functions by name. A renamed or deleted function fails
the traced benchmark run only when that run happens; this pins it in
the suite.

What must hold: every name the hooks wrap exists, is wrapped while the
tracer is active, and is the original function again after
``restore()``.
"""

from __future__ import annotations

from perfbench.run import _patch_layers
from perfbench.trace import Tracer


def test_trace_hooks_wrap_and_restore_every_name():
    tracer = Tracer(True)
    try:
        _patch_layers(tracer)
        patched = list(tracer._patched)
        assert patched
        for owner, attr, fn in patched:
            assert getattr(owner, attr) is not fn, (owner, attr)
            assert getattr(owner, attr).__wrapped__ is fn, (owner, attr)
    finally:
        tracer.restore()
    for owner, attr, fn in patched:
        assert getattr(owner, attr) is fn, (owner, attr)
