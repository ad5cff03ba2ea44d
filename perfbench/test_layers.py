"""Tests of the layer map's guard and of self-time attribution. They need no
Spark session:

    python3 -m pytest perfbench/test_layers.py -q -p no:cacheprovider
"""

from perfbench import layers

PKG = layers.PKG


def test_every_reference_resolves_at_head():
    for refs in (layers.TIMED, layers.COUNTED, layers.DRIVER,
                 {"pipeline.mapper_s": layers.MAPPER}):
        keys, gone = layers.resolve_map(refs)
        assert gone == {}
        assert set(keys) == set(refs)


def test_resolve_gives_the_pstats_key():
    file, line, name = layers.resolve(layers.MAPPER[0])
    assert (file, name) == ("pipeline.py", "mapper")
    assert line > 0


def test_removed_names_do_not_resolve():
    assert layers.resolve(PKG + ".pipeline:Batch") is None
    assert layers.resolve(PKG + ".pipeline:map_documents") is None
    assert layers.resolve(PKG + ".pipeline:run_mode.<locals>.gone") is None
    assert layers.resolve(PKG + ".no_such_module:f") is None


def test_a_removed_layer_is_missing_never_zero(monkeypatch):
    monkeypatch.setitem(layers.TIMED, "pipeline.flatten_s",
                        [PKG + ".pipeline:map_documents"])
    monkeypatch.setitem(layers.COUNTED, "pipeline.batches",
                        [PKG + ".pipeline:Batch"])
    out = layers.worker_metrics({}, passes=1)
    for name, unit in (("pipeline.flatten_s", "s"), ("pipeline.batches", "count")):
        assert out[name]["value"] is None
        assert out[name]["unit"] == unit
        assert "not found" in out[name]["missing"]
    # the layers still present report a number
    assert out["pipeline.emit_s"] == {"value": 0.0, "unit": "s"}


def _row(cc, tt, ct, callers):
    """A pstats row: (primitive calls, calls, self time, inclusive, callers);
    each caller edge is (pcalls, calls, self time, inclusive)."""
    return (cc, cc, tt, ct, callers)


def test_self_times_account_for_the_root():
    root = ("m.py", 1, "mapper")
    a = ("m.py", 10, "layer_a")
    b = ("m.py", 20, "layer_b")
    helper = ("m.py", 30, "helper")
    loose = ("m.py", 40, "loose")
    outside = ("m.py", 50, "elsewhere")
    stats = {
        root: _row(1, 1.0, 8.0, {}),
        # layer_b runs inside layer_a: a's self time excludes it
        a: _row(2, 1.0, 6.0, {root: (2, 2, 1.0, 6.0)}),
        b: _row(1, 2.0, 3.0, {a: (1, 1, 2.0, 3.0)}),
        # helper is called from layer_a (2 s) and from layer_b (1 s)
        helper: _row(3, 3.0, 3.0, {a: (2, 2, 2.0, 2.0), b: (1, 1, 1.0, 1.0)}),
        # under the root but in no layer
        loose: _row(1, 1.0, 1.0, {root: (1, 1, 1.0, 1.0)}),
        outside: _row(1, 0.5, 0.5, {}),
    }
    att = layers.attribute(stats, {"a": [a], "b": [b]}, [root])
    assert att["root_s"] == 8.0
    assert att["self"]["a"] == 1.0 + 2.0
    assert att["self"]["b"] == 2.0 + 1.0
    assert att["unattributed_s"] == 1.0 + 1.0  # root's own time and loose
    assert att["outside_s"] == 0.5
    total = sum(row[2] for row in stats.values())
    assert sum(att["self"].values()) + att["unattributed_s"] + att["outside_s"] == total


def test_counts_sum_the_named_functions():
    f, g = ("m.py", 1, "f"), ("m.py", 2, "g")
    stats = {f: _row(3, 0.0, 0.0, {}), g: _row(4, 0.0, 0.0, {})}
    assert layers.counts(stats, {"n": [f, g], "none": [("m.py", 9, "h")]}) == {
        "n": 7, "none": 0,
    }
