import time
from contextlib import contextmanager

from perfbench import inputs, workloads


class _Untraced:
    enabled = False
    active = False

    @contextmanager
    def span(self, name, **attrs):
        yield None


def _bench(seconds: float) -> workloads.Bench:
    b = workloads.Bench("unused", seed=1, seconds=seconds)
    b.tracer = _Untraced()
    return b


def test_loop_stops_only_after_whole_units():
    b = _bench(0.05)
    b.loop(lambda: time.sleep(0.02) or {}, unit=6, least=6)
    assert len(b.ops) % 6 == 0 and len(b.ops) >= 6


def test_loop_keeps_the_untimed_step_out_of_the_operation_time():
    b = _bench(0.0)
    b.loop(lambda: {}, least=3, before=lambda: time.sleep(0.05))
    assert len(b.ops) == 3
    assert all(o["ms"] < 50 for o in b.ops)


def test_every_round_of_the_mix_has_the_mix_composition():
    mix = inputs.query_mix(5)
    n = len(inputs.TEMPLATES)
    whole = inputs.mix_report(mix)
    for r in range(inputs.ROUNDS):
        part = inputs.mix_report(mix[r * n:(r + 1) * n])
        for cls in ("hot", "keyword", "rare", "absent"):
            assert part[f"{cls}_term_share"] == whole[f"{cls}_term_share"]
