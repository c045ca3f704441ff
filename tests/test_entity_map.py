"""The driver-side entity map agrees with the independent pure-Python
oracle on arbitrary alias graphs, and keeps the committed table layout."""

import json

from hypothesis import example, given, settings
from hypothesis import strategies as st

from surfactant_spark.operators.canonicalize import entity_canonical_map
from surfactant_spark.oracle.pyoracle import _union_find

# the entity_map snapshot layout linking.entity_nodes reads
SCHEMA_JSON = {
    "type": "struct",
    "fields": [
        {"name": "entity_key", "type": "string", "nullable": True, "metadata": {}},
        {"name": "canonical_id", "type": "string", "nullable": True, "metadata": {}},
        {
            "name": "member_keys",
            "type": {"type": "array", "elementType": "string", "containsNull": False},
            "nullable": False,
            "metadata": {},
        },
    ],
}

# few distinct keys so random edges form multi-key components; "_none_"
# and non-ASCII keys are ordinary keys too
_key = st.sampled_from(["a", "b", "c", "d", "e", "f", "A", "é", "ß1", "_none_"])


@given(
    dict_keys=st.lists(_key, max_size=6),
    edges=st.lists(st.tuples(_key, _key), max_size=10),
)
@example(dict_keys=["a", "b"], edges=[])  # no alias edges at all
@example(dict_keys=[], edges=[])
@example(dict_keys=["a"], edges=[("c", "c")])  # self-edge, key only in edges
@example(dict_keys=["a", "b"], edges=[("a", "b"), ("b", "a"), ("a", "b")])
@example(dict_keys=["a"], edges=[("c", "d"), ("d", "e")])  # edge-only chain
@settings(max_examples=40, deadline=None)
def test_entity_map_matches_oracle(spark, dict_keys, edges):
    emap = entity_canonical_map(spark, sorted(set(dict_keys)), edges)
    assert json.loads(emap.schema.json()) == SCHEMA_JSON
    rows = emap.collect()
    want = _union_find(set(dict_keys), edges)
    got = {r.entity_key: r for r in rows}
    assert len(rows) == len(got) == len(want)
    for key, canon in want.items():
        assert got[key].canonical_id == canon, key
        component = sorted(k for k, c in want.items() if c == canon)
        assert list(got[key].member_keys) == component, key
