"""On-demand pattern regexes: a compiled dictionary pickles (the
broadcast) as regex sources, and each pattern compiles on first use with
exactly the semantics of an eager ``re.compile(..., re.IGNORECASE)``."""

import pickle
import re

import pandas as pd

from surfactant_spark.dictionary import (
    compile_dictionary,
    synth_dictionary_rows,
)
from surfactant_spark.operators.mentions import _detect_batches

# the token-bounded exact-name regex, written out independently
_REFERENCE = re.compile(r"(?<![A-Za-z0-9])libalpha(?![A-Za-z0-9])", re.IGNORECASE)

BOUNDARY_CASES = {
    "libalpha-x": True,
    "xlibalpha": False,
    "LIBALPHA": True,
    "libalpha9": False,
    "7libalpha": False,
    "_libalpha_": True,
    "élibalpha": True,  # non-ASCII letters are not token characters
    "libalphaé": True,
    "ﬁ libAlpha ü": True,
    "lib alpha": False,
    "": False,
}


def _name_pattern(d):
    return next(p for p in d.patterns if p.kind == "name" and p.pattern == "libalpha")


def _spans(rx, text):
    return [m.span() for m in rx.finditer(text)]


def test_name_pattern_matches_like_eager_regex():
    p = _name_pattern(compile_dictionary())
    assert "rx" not in p.__dict__  # nothing compiled yet
    for text, hit in BOUNDARY_CASES.items():
        assert (p.rx.search(text) is not None) is hit, text
        assert _spans(p.rx, text) == _spans(_REFERENCE, text), text


def test_pickle_round_trip_keeps_semantics_and_carries_source_only():
    d = compile_dictionary()
    p = _name_pattern(d)
    p.rx  # compiled on the driver; the pickle must still drop it
    blob = pickle.dumps(d)
    assert b"_compile" not in blob  # no re.Pattern inside
    back = pickle.loads(blob)
    for q in back.patterns:
        assert "rx" not in q.__dict__, q.entity_key
    q = _name_pattern(back)
    assert q.regex == p.regex and q.regex.count("libalpha") == 1
    for text in BOUNDARY_CASES:
        assert _spans(q.rx, text) == _spans(_REFERENCE, text), text
    # content patterns travel the same way and keep their capture group
    c = next(x for x in back.patterns if x.entity_key == "libalpha" and x.kind == "content")
    assert c.rx.search("LibAlpha v1.2.3").group(1) == "1.2.3"


def test_invalid_content_regexes_still_skipped():
    rows = [
        ("broken", "content", r"libbroken[(", None),  # parse error
        ("lookbehind", "content", r"(?<=a+)libfoo", None),  # compile-time error
        ("fine", "content", r"libfine (\d+)", None),
        ("fine", "name", "fine[(", None),  # escaped, so always valid
    ]
    d = compile_dictionary(rows)
    assert {(k, w) for k, _p, w in d.skipped} == {
        ("broken", "invalid-regex"),
        ("lookbehind", "invalid-regex"),
    }
    assert [(p.entity_key, p.kind) for p in d.patterns] == [
        ("fine", "content"),
        ("fine", "name"),
    ]
    assert d.patterns[1].rx.search("see FINE[( here")


def test_worker_compiles_only_patterns_with_candidates():
    """Over an unpickled production-size dictionary (the Aho-Corasick
    path), detection compiles the regexes its prefilter hits reach and
    no others."""
    rows = synth_dictionary_rows(300, seed="lazy")
    d = pickle.loads(pickle.dumps(compile_dictionary(rows)))
    hit = rows[0][0]  # one entity's name alias (and content literal)
    text = f"uses {hit}/2.1 and nothing else"
    detect = _detect_batches(d)
    out = pd.concat(detect(iter([pd.DataFrame(
        {"content_sha256": ["h"], "lang": ["en"], "text": [text]}
    )])))
    assert list(out["entity_key"]) == [hit]
    # the name row comes first and wins, so the content regex is never needed
    compiled = [(p.entity_key, p.kind) for p in d.patterns if "rx" in p.__dict__]
    assert compiled == [(hit, "name")]
