"""``perfbench.trace.Tracer.install`` wraps each trace target by looking
the attribute up in its owner's own ``__dict__``: a target that moved to
a base class, or was renamed, passes every untraced run and crashes
every traced one. This check needs no Spark."""
from __future__ import annotations


def test_every_trace_target_is_defined_on_its_owner():
    from perfbench.run import trace_targets

    missing = [f"{getattr(owner, '__name__', owner)}.{attr}"
               for owner, attr, _layer in trace_targets()
               if attr not in vars(owner)]
    assert not missing, f"trace targets not in their owner's __dict__: {missing}"
