"""The benchmark (perfbench) wraps named functions of the package by
replacing ``vars(owner)[attr]``; a rename or a move that drops one of
those names crashes every benchmark run. perfbench's own tests are not
part of this suite, so the names are pinned here."""

from perfbench.workloads import LAYERS


def test_benchmark_layers_resolve():
    missing = [name for owner, attr, name, _ in LAYERS if attr not in vars(owner)]
    assert not missing, missing
