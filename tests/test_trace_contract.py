"""The benchmark tracer's contract with the program: every (module,
attribute) pair that ``perfbench/layers.py`` wraps when a traced run
installs must resolve to a callable, or ``perfbench/run.py --trace 1``
fails at install. Pure Python (no Spark session); perfbench is only
read, never changed."""

import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_traced_name_resolves(monkeypatch):
    monkeypatch.syspath_prepend(os.path.join(ROOT, "perfbench"))
    layers = importlib.import_module("layers")
    missing = []
    for mod_name, attr in layers.WRAPPED:
        owner = importlib.import_module(mod_name)
        for part in attr.split("."):
            owner = getattr(owner, part, None)
        if not callable(owner):
            missing.append(f"{mod_name}.{attr}")
    assert not missing, missing
    # the cuckoo frame API is seen.py's generic set, re-exported
    cuckoo = importlib.import_module("urlmap_spark.operators.cuckoo")
    seen = importlib.import_module("urlmap_spark.operators.seen")
    for name in ("build_filters", "split_candidates", "seen_anti_join"):
        assert getattr(cuckoo, name) is getattr(seen, name), name
