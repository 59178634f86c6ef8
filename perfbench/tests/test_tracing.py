import itertools
import sys

import pytest

from perfbench import eventlog, tracing


class FakeClock:
    """Clock and CPU counter that the test advances by hand."""

    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def _tracer():
    clock = FakeClock()
    cpu = FakeClock()
    return tracing.Tracer(sc=None, cpu=cpu, clock=clock), clock, cpu


def _advance(clock, cpu, dt, cores=2.0):
    clock.t += dt
    cpu.t += dt * cores


def _kg_like_trace():
    """run > [order, io.write:ordered > io.digest, io.write:extracted > io.digest]"""
    tr, clock, cpu = _tracer()
    with tr.span("run", "run"):
        _advance(clock, cpu, 0.5)
        with tr.span("order_turns", "order"):
            _advance(clock, cpu, 3.0)
        with tr.span("io.write:ordered", "io", "order"):
            _advance(clock, cpu, 2.0)
            with tr.span("io.digest", "io"):
                _advance(clock, cpu, 1.0)
        with tr.span("extract", "extract"):
            _advance(clock, cpu, 0.1)
        with tr.span("io.write:extracted", "io", "extract"):
            _advance(clock, cpu, 4.0)
            with tr.span("io.digest", "io"):
                _advance(clock, cpu, 0.5)
        _advance(clock, cpu, 0.25)
    return tr


def test_self_time_subtracts_direct_children():
    tr = _kg_like_trace()
    names = [s.name for s in tr.spans]
    run = names.index("run")
    write = names.index("io.write:ordered")
    assert tr.spans[run].dur == pytest.approx(11.35)
    assert tracing.self_time(tr.spans, run) == pytest.approx((0.75, 1.5))
    assert tracing.self_time(tr.spans, write) == pytest.approx((2.0, 4.0))
    assert tr.spans[write + 1].parent == write


def test_lazy_work_is_owned_by_the_producing_layer():
    tr = _kg_like_trace()
    m = tracing.layer_metrics(tr.spans, {}, slots=4)
    # order: eager checkpoint span + the data write of its table
    assert m["order.self_s"] == pytest.approx(5.0)
    assert m["order.wall_s"] == pytest.approx(6.0)   # includes the digest child
    assert m["extract.self_s"] == pytest.approx(4.1)
    # io owns the digest read-backs; its wall is every commit, inclusive
    assert m["io.self_s"] == pytest.approx(1.5)
    assert m["io.digest_s"] == pytest.approx(1.5)
    assert m["io.wall_s"] == pytest.approx(7.5)
    assert m["run.self_s"] == pytest.approx(0.75)
    assert m["cc.wall_s"] == 0 and m["cc.jobs"] == 0


def test_owned_self_times_add_up_to_the_traced_wall():
    tr = _kg_like_trace()
    m = tracing.layer_metrics(tr.spans, {}, slots=4)
    total = sum(m[f"{layer}.self_s"] for layer in tracing.LAYERS) + m["run.self_s"]
    assert total == pytest.approx(tr.spans[0].dur)
    cpu = sum(m[f"{layer}.cpu_s"] for layer in tracing.LAYERS)
    assert cpu + 1.5 == pytest.approx(tr.spans[0].cpu)


def test_event_log_counters_follow_span_job_groups():
    tr = _kg_like_trace()
    by_name = {s.name: s for s in tr.spans}
    groups = {
        by_name["io.write:extracted"].group: eventlog.Counters(
            jobs=1, run_ms=8000, cpu_ns=3 * 10**9, records_out=100, bytes_out=2048),
        by_name["io.write:ordered"].group: eventlog.Counters(jobs=2, bytes_out=1024),
    }
    m = tracing.layer_metrics(tr.spans, groups, slots=4)
    assert m["extract.jobs"] == 1 and m["order.jobs"] == 2 and m["io.jobs"] == 0
    assert m["extract.jvm_cpu_s"] == pytest.approx(3.0)
    assert m["extract.rows_out"] == 100
    assert m["io.bytes_written"] == 3072
    # 8 s of task time over (4.6 s of extract wall x 4 slots)
    assert m["extract.slot_util"] == pytest.approx(8.0 / (4.6 * 4))


def test_install_patches_every_reference_and_restores():
    pytest.importorskip("pyspark")
    import kgp.io
    import kgp.pipeline
    import kgp.pipeline.run

    order_mod = sys.modules["kgp.pipeline.order"]
    originals = (order_mod.order_turns, kgp.pipeline.run.order_turns, kgp.pipeline.order_turns,
                 kgp.io.TableIO.write, kgp.io._digest)
    assert len({id(f) for f in originals[:3]}) == 1
    tr = tracing.Tracer(sc=None)
    restore = tracing.install(tr)
    try:
        patched = (order_mod.order_turns, kgp.pipeline.run.order_turns, kgp.pipeline.order_turns)
        assert len({id(f) for f in patched}) == 1
        assert patched[0] is not originals[0] and patched[0].__wrapped__ is originals[0]
        assert kgp.io.TableIO.write is not originals[3]
        assert sys.modules["kgp.pipeline.cc"].connected_components is \
            kgp.pipeline.run.connected_components
    finally:
        restore()
    restored = (order_mod.order_turns, kgp.pipeline.run.order_turns, kgp.pipeline.order_turns,
                kgp.io.TableIO.write, kgp.io._digest)
    assert all(a is b for a, b in itertools.zip_longest(restored, originals))
