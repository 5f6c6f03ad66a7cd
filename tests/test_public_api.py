"""Guard against engine knobs growing back on the public surface.

Each curation operator keeps one implementation; slower reference
implementations live in ``tests/engine_oracles.py``.  A public
parameter that picks between implementations (``engine``,
``*_engine``) reintroduces a second code path to maintain, so this
test fails on any.  The one exception is the LM scorer's
``score_engine``: its ``join`` path is the only one that runs when the
model is too large to hold on the driver.
"""

import inspect

import hermes_spark.operators as operators
import hermes_spark.streaming as streaming

ALLOWED = {("lm_score", "score_engine"), ("lm_score_by_lang", "score_engine")}


def _public_callables(module):
    # __all__ of hermes_spark.operators does not list every exported
    # operator (e.g. the gopher family), so walk the namespace as well
    names = set(getattr(module, "__all__", ())) | {
        n for n in dir(module) if not n.startswith("_")
    }
    for name in sorted(names):
        obj = getattr(module, name)
        if callable(obj) and getattr(obj, "__module__", "").startswith(
            "hermes_spark"
        ):
            yield name, obj


def test_no_engine_parameters_on_public_operators():
    found = set()
    for module in (operators, streaming):
        for name, fn in _public_callables(module):
            try:
                params = inspect.signature(fn).parameters
            except (TypeError, ValueError):
                continue
            found |= {
                (name, p) for p in params
                if p == "engine" or p.endswith("_engine")
            }
    assert found == ALLOWED
