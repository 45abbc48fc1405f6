"""entity_mapping's two paths give the same mapping.

At or below graphalgo.LOCAL_EDGE_LIMIT rows the Jaccard-only gate is
resolved on the driver after one collect; with the limit monkeypatched to 0
the same call runs minhash blocking, scoring and CC on Spark. Each case
compares the two: same rows, same schema (nullability included), and no
Python-worker stage on the driver path.
"""

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.group import GroupedData
from test_resolution import ENTS

from graphrag_mrkr_2_spark.operators import graphalgo, resolution


def _variants():
    """Seeded name variants: case, a dropped or doubled letter, a suffix, so
    many candidate buckets hold more than two ids and scores straddle the
    gate."""
    rng = random.Random(3)
    bases = ["ADMIN PANEL", "USER DATABASE", "LOGIN SERVICE", "PAYMENT GATEWAY",
             "SEARCH INDEX", "CACHE LAYER", "AUDIT LOG", "EMAIL QUEUE"]
    rows = []
    for k in range(160):
        name = rng.choice(bases)
        i = rng.randrange(len(name))
        edit = rng.randrange(4)
        if edit == 0:
            name = name.lower()
        elif edit == 1:
            name = name[:i] + name[i + 1:]
        elif edit == 2:
            name = name[:i] + name[i] + name[i:]
        else:
            name = name + rng.choice(["S", " SYSTEM", " V2"])
        rows.append((f"v{k:03d}", name))
    return rows


CASES = {
    "fixture": ENTS,
    "variants": _variants(),
    "tabs_and_spaces": [
        ("t1", "\tADMIN PANEL\t"),
        ("t2", "  ADMIN PANEL  "),
        ("t3", "ADMIN PANEL"),
        ("t4", " \t ADMIN PANEL \t "),
        ("t5", "   "),
        ("t6", "\t\t"),
        ("t7", " "),
    ],
    "non_ascii": [
        ("n1", "İstanbul"),
        ("n2", "istanbul"),
        ("n3", "ISTANBUL"),
        ("n4", "Straße"),
        ("n5", "STRASSE"),
        ("n6", "strasse"),
        ("n7", "東京都"),
        ("n8", "東京"),
        ("n9", "北京市"),
    ],
    "shorter_than_n": [
        ("s1", "a"),
        ("s2", "A"),
        ("s3", "ab"),
        ("s4", "AB"),
        ("s5", ""),
        ("s6", "b"),
    ],
    # d1's grams are all d2's, so the two are candidates; only d1's second
    # row scores 1.0 against d2, its first 5/11
    "duplicate_ids": [
        ("d1", "ADMIN"),
        ("d1", "admin panel"),
        ("d2", "ADMIN PANEL"),
        ("d3", "USER DATA BASE"),
        ("d3", "USER DATA BASE"),
        ("d4", "USER DATABASE"),
        ("d5", "COMPLETELY OTHER THING"),
    ],
    "null_ids_and_names": [
        ("z1", None),
        ("z2", None),
        (None, "ADMIN PANEL"),
        ("z3", "ADMIN PANEL"),
        ("z4", "ADMIN PANELS"),
    ],
    "empty": [],
}


def _paths_agree(monkeypatch, df, threshold):
    """entity_mapping on the Spark path (driver limit 0) and on the driver
    path (the default limit): same rows, same schema. The driver path must
    plan no blocking join and no mapInPandas/applyInPandas stage."""
    blocked = []
    candidate_pairs = resolution.candidate_pairs

    def spy(*args, **kwargs):
        blocked.append(1)
        return candidate_pairs(*args, **kwargs)

    def no_workers(self, *args, **kwargs):
        raise AssertionError("Python-worker stage planned on the driver path")

    monkeypatch.setattr(resolution, "candidate_pairs", spy)
    got = {}
    for path, limit in (("spark", 0), ("driver", graphalgo.LOCAL_EDGE_LIMIT)):
        with monkeypatch.context() as mp:
            mp.setattr(graphalgo, "LOCAL_EDGE_LIMIT", limit)
            if path == "driver":
                mp.setattr(GroupedData, "applyInPandas", no_workers)
                mp.setattr(type(df), "mapInPandas", no_workers)
            blocked.clear()
            mapping = resolution.entity_mapping(df, threshold=threshold)
            got[path] = (mapping.schema, sorted((tuple(r) for r in mapping.collect()), key=repr))
        assert bool(blocked) == (path == "spark")
    assert got["driver"] == got["spark"]
    return got["driver"][1]


@pytest.mark.spark
@pytest.mark.parametrize("threshold", [0.55, 0.8])
@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_and_spark_paths_agree(spark, monkeypatch, case, threshold):
    df = spark.createDataFrame(CASES[case], "entity_id string, name string")
    rows = _paths_agree(monkeypatch, df, threshold)
    assert len(rows) == len({r[0] for r in CASES[case]})


@pytest.mark.spark
def test_paths_agree_on_non_nullable_ids(spark, monkeypatch):
    """A non-nullable entity_id gives non-nullable columns on both paths."""
    df = spark.createDataFrame(ENTS, "entity_id string, name string").select(
        F.coalesce("entity_id", F.lit("")).alias("entity_id"), "name"
    )
    assert not df.schema["entity_id"].nullable
    _paths_agree(monkeypatch, df, 0.55)


@pytest.mark.spark
def test_cases_exercise_the_gate(spark, monkeypatch):
    """The cases exercise the gate, not only the identity: variants merge
    into few canonical ids; null names (gram set {null}) merge with each
    other but never with a named entity; an id with two rows matches
    through either row."""

    def mapping(case, threshold):
        df = spark.createDataFrame(CASES[case], "entity_id string, name string")
        return dict(_paths_agree(monkeypatch, df, threshold))

    variants = mapping("variants", 0.55)
    assert len(set(variants.values())) < len(variants) // 4
    nulls = mapping("null_ids_and_names", 0.55)
    assert nulls["z2"] == nulls["z1"] == "z1"
    assert nulls["z4"] == nulls["z3"] == "z3"
    assert nulls[None] is None
    dups = mapping("duplicate_ids", 0.8)
    assert dups["d2"] == dups["d1"] == "d1"
    assert dups["d5"] == "d5"
