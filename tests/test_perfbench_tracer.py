"""The benchmark tracer's patch targets resolve and are restored.

``perfbench/spans.py`` wraps engine functions by attribute name for a
traced run (``--trace 1``). A renamed or deleted target makes
``Tracer.install()`` raise before the run starts, so this pins every
target without running a Spark job.
"""

import importlib.util
import os
import sys

_SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "spans.py",
)


def _load_spans():
    spec = importlib.util.spec_from_file_location("perfbench_spans", _SPANS)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve through it
    spec.loader.exec_module(mod)
    return mod


def test_tracer_install_uninstall_restores_every_target(spark):
    from xrpl_rich_list_py_crawler_spark.operators.seen import BloomShards

    tracer = _load_spans().Tracer(spark)
    tracer.install()
    try:
        patched = list(tracer._undo)
        assert patched
        for owner, attr, orig in patched:
            assert getattr(owner, attr) is not orig, attr
    finally:
        tracer.uninstall()
    for owner, attr, orig in patched:
        assert getattr(owner, attr) is orig, attr
    names = {attr for _, attr, _ in patched}
    assert {"anti_join_seen_bloom", "build_bloom_shards"} <= names
    # the bloom wrappers read these off the shards they return
    assert callable(BloomShards.maybe_contains)
    assert "n_keys" in BloomShards.__dataclass_fields__
