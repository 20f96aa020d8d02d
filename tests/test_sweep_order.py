"""The driver's sweep order is computed from the CORRECTNESS_r{N}.json
records (__spark_entry__._sweep_order), never kept by hand."""

import json
import os

import __spark_entry__ as E
from bioanalyzer_backend_spark.plans.catalog_queries import registry

_PASS = {"rows_match": True, "schema_match": True, "hash_match": True}
_FAIL = {"rows_match": True, "schema_match": True, "hash_match": False}


def _write(d, rnd, recs):
    with open(os.path.join(d, f"CORRECTNESS_r{rnd:02d}.json"), "w") as f:
        json.dump(recs, f)


def test_unproven_first_then_oldest_pass_ties_in_builder_order(tmp_path):
    d = str(tmp_path)
    _write(d, 1, {"a": _PASS, "b": _PASS, "c": _PASS, "e": _PASS})
    # r10 sorts numerically after r2 (not as a string)
    _write(d, 2, {"a": _PASS, "d": _FAIL})
    _write(d, 10, {"c": _PASS, "e": _FAIL})
    with open(os.path.join(d, "CORRECTNESS_notes.json"), "w") as f:
        f.write("not a record")
    builder = ["a", "b", "c", "d", "e", "f"]
    # d, f: no passing record (d only failed) -> first, builder order;
    # b, e: newest pass r1 (e's r10 failed); a: r2; c: r10
    assert E._sweep_order(builder, d) == ["d", "f", "b", "e", "a", "c"]


def test_entry_surfaces_cover_the_registry_in_sweep_order():
    reg = registry()
    q, o = E.queries(), E.oracle_sql()
    assert list(q) == list(o)
    assert set(q) == set(reg) and len(q) == len(reg)

    # on the repo's own records: oldest newest-pass first, ties in
    # builder order (independent recomputation of the record rule)
    here = os.path.dirname(os.path.abspath(E.__file__))
    newest = {}
    for fname in os.listdir(here):
        if fname.startswith("CORRECTNESS_r") and fname.endswith(".json"):
            rnd = int(fname[len("CORRECTNESS_r"):-len(".json")])
            with open(os.path.join(here, fname)) as f:
                for name, rec in json.load(f).items():
                    if rec["rows_match"] and rec["schema_match"] \
                            and rec["hash_match"]:
                        newest[name] = max(newest.get(name, -1), rnd)
    rounds = [newest.get(n, -1) for n in q]
    assert rounds == sorted(rounds)
    oldest = min(rounds)
    head = [n for n in q][:rounds.count(oldest)]
    assert set(head) == {n for n in reg if newest.get(n, -1) == oldest}
    builder = list(reg)
    assert head == sorted(head, key=builder.index)
