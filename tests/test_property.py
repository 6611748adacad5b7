"""Property-based equivalence (hypothesis): random member values and
page sizes, Spark engine vs the sequential reference oracle, the
per-parent trie included (one oracle per parent). Alphabet deliberately stresses the normalizer (unicode,
combining marks, '#', separators), empties, and multi-word splits —
the class of inputs the ADVICE r3 salt-capped-threshold boundary bug
lived in (small page_size × small salt_buckets × small groups), which
this suite would have caught.

Each example is a full Spark job, so example counts are small and each
example packs 8-60 members; the point is adversarial input SHAPES, not
volume (the SF-scale checks live in check_parity and the engine tests).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bucketizers_spark.oracle import SubjectPageOracle, SubstringOracle
from bucketizers_spark.operators import subject_page, substring_trie

# unicode-heavy alphabet: ascii, digits, separators the normalizer
# rewrites ('#', ',', "'"), NFKD-decomposable letters, a bare combining
# mark, and spaces (multi-word '+' joins)
_ALPHA = "abcz019 #,'-ñéØ̃J "

_values = st.lists(
    st.one_of(st.text(_ALPHA, max_size=10), st.none()),
    min_size=10,
    max_size=40,
)

_SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _members_df(spark, values):
    rows = [(i, f"m{i}", v) for i, v in enumerate(values)]
    return spark.createDataFrame(
        rows, "seq long, member_id string, value string"
    )


def _collect(df):
    out = {}
    for r in df.select("member_id", "bucket_id").collect():
        out.setdefault(r.member_id, [])
        if r.bucket_id is not None:
            out[r.member_id].append(r.bucket_id)
    return {k: sorted(v) for k, v in out.items()}


def _oracle_assignments(oracle, values):
    out, rels = {}, []
    for i, v in enumerate(values):
        res = oracle.bucketize([v] if v is not None else None, f"m{i}")
        out[f"m{i}"] = sorted(res.buckets)
        rels.extend(res.relations)
    return out, rels


def _rel_set(df):
    return {
        (r.from_bucket, r.relation_type, r.to_bucket, tuple(r["values"] or ()))
        for r in df.collect()
    }


def _oracle_rel_set(rels):
    return {
        (r.from_bucket, r.relation_type, r.to_bucket, tuple(r.values))
        for r in rels
    }


class TestSubstringProperty:
    """The two normalize tiers each tested in their contract domain
    (functions/normalize.py): ``ascii_fast=False`` (real NFKD) must be
    bit-exact on ANY input; ``ascii_fast=True`` (pure JVM, the 100 TB
    default) is bit-exact on ASCII-domain columns."""

    @_SET
    @given(values=_values, page_size=st.integers(1, 5))
    def test_nfkd_tier_matches_oracle_on_unicode(
        self, spark, values, page_size
    ):
        from bucketizers_spark.operators import fallback_pager

        df = _members_df(spark, values)
        matched = df.where(F.col("value").isNotNull())
        unmatched = df.where(F.col("value").isNull())
        res = substring_trie(
            matched, "value", page_size=page_size, ascii_fast=False
        )
        fb = fallback_pager(unmatched, page_size=page_size)
        got = _collect(res.assignments.unionByName(fb.assignments))
        exp, orels = _oracle_assignments(
            SubstringOracle(page_size=page_size), values
        )
        assert got == exp
        assert _rel_set(
            res.relations.unionByName(fb.relations)
        ) == _oracle_rel_set(orels)

    @_SET
    @given(
        values=st.lists(
            st.one_of(st.text("abz019 #,'-J", max_size=10), st.none()),
            min_size=10,
            max_size=40,
        ),
        page_size=st.integers(1, 5),
    )
    def test_ascii_tier_matches_oracle_via_front_door(
        self, spark, values, page_size
    ):
        """ASCII-domain inputs through route_with_fallback: the fast
        tier + the NULL→bucketless routing, against the oracle."""
        from bucketizers_spark.pipeline import route_with_fallback

        df = _members_df(spark, values)
        res = route_with_fallback(
            df,
            {
                "strategy": "substring",
                "column": "value",
                "page_size": page_size,
            },
        )
        exp, orels = _oracle_assignments(
            SubstringOracle(page_size=page_size), values
        )
        assert _collect(res.assignments) == exp
        assert _rel_set(res.relations) == _oracle_rel_set(orels)


class TestTrieStrategiesProperty:
    @_SET
    @given(
        values=st.lists(st.text(_ALPHA, max_size=8), min_size=8, max_size=60),
        page_size=st.integers(1, 4),
        salt=st.integers(2, 5),
        nparents=st.integers(1, 3),
        tail=st.sampled_from([0, 30, 10**6]),
    )
    # two '+' in a row (U+0303 normalizes to nothing): the distributed
    # level must relate '++0' from the root, as the oracle does
    @example(
        values=["", "", "", "", "", "", "ñaa-Ø", "\u0303  0"],
        page_size=1, salt=2, nparents=1, tail=0,
    )
    def test_walk_equals_salted_cascade_per_parent(
        self, spark, values, page_size, salt, nparents, tail
    ):
        """The per-parent trie equals a per-parent reference oracle with
        SMALL page_size × SMALL salt_buckets — the exact regime of the r3
        salt-capped-threshold boundary — with every level distributed
        (tail 0), a mid handoff to the grouped walk or a walk from the
        parent roots (tail 30, by input size), and a walk from the parent
        roots (tail >= rows)."""
        rows = [
            (i, f"p{i % nparents}", v) for i, v in enumerate(values)
        ]
        df = spark.createDataFrame(rows, "seq long, _parent string, value string")
        res = substring_trie(
            df,
            "value",
            parent_col="_parent",
            page_size=page_size,
            max_depth=16,
            ascii_fast=False,  # real NFKD: the alphabet is not ASCII
            salt_buckets=salt,
            tail_threshold=tail,
        )
        # one oracle per parent; its root (a name no value normalizes to)
        # collapses onto the parent, every other bucket is parent/bucket
        want_assign, want_rels = set(), set()
        for p in range(nparents):
            parent = f"p{p}"
            oracle = SubstringOracle(page_size=page_size, root="\x00")

            def shown(b):
                return parent if b == "\x00" else f"{parent}/{b}"

            for i in range(p, len(values), nparents):
                out = oracle.bucketize([values[i]], f"m{i}")
                want_assign |= {(i, shown(b)) for b in out.buckets}
                if not out.buckets:
                    want_assign.add((i, None))
                want_rels |= {
                    (shown(r.from_bucket), r.relation_type, shown(r.to_bucket),
                     tuple(r.values))
                    for r in out.relations
                }
        got_assign = {(r.seq, r.bucket_id) for r in res.assignments.collect()}
        assert got_assign == want_assign
        assert _rel_set(res.relations) == want_rels


def _fmt_coord(v: float) -> str:
    # fixed-point, never scientific: both the engine regex and the
    # oracle regex must tokenize the same text
    return f"{v:.3f}"


# truncation / pole edges the slippy quirk lives in (SlippyMaps.ts:24-25:
# parseInt BEFORE tiling; ±90 latitude behavior; sub-1 values truncate to
# 0 regardless of sign)
_EDGE_LON = [-180.0, -179.999, -0.999, 0.0, 0.999, 179.999, 180.0]
_EDGE_LAT = [-90.0, -89.999, -85.051, -0.999, 0.0, 0.999, 85.051, 89.999, 90.0]

_lon = st.one_of(
    st.sampled_from(_EDGE_LON),
    st.floats(min_value=-180, max_value=180, allow_nan=False),
)
_lat = st.one_of(
    st.sampled_from(_EDGE_LAT),
    st.floats(min_value=-90, max_value=90, allow_nan=False),
)
_pair = st.tuples(_lon, _lat).map(
    lambda p: f"{_fmt_coord(p[0])} {_fmt_coord(p[1])}"
)
_wkt_value = st.one_of(
    _pair.map(lambda p: f"POINT ({p})"),
    _pair.map(
        lambda p: f"<http://www.opengis.net/def/crs/OGC/1.3/CRS84> POINT ({p})"
    ),
    st.lists(_pair, min_size=2, max_size=4).map(
        lambda ps: "MULTIPOINT (" + ", ".join(f"({p})" for p in ps) + ")"
    ),
    st.sampled_from(["garbage", "", "POLYGON", "ERR:boom"]),
    st.none(),
)


class TestGeospatialProperty:
    """Random WKT through the geospatial front door vs GeospatialOracle
    (VERDICT r4 #7): the parseInt-truncation quirk at integer-degree
    boundaries, the ±90 latitude edge (+90 tiles finitely like JS, -90
    throws → fallback), CRS prefixes, multi-point tile dedup, non-WKT →
    fallback, and NULL members sharing the SAME bucketless counter (the
    r5 null-safety + single-pager fixes live exactly here)."""

    @_SET
    @given(
        values=st.lists(_wkt_value, min_size=8, max_size=30),
        page_size=st.integers(1, 4),
        zoom=st.sampled_from([2, 4]),
    )
    def test_geo_front_door_matches_oracle(
        self, spark, values, page_size, zoom
    ):
        from bucketizers_spark.oracle.reference import GeospatialOracle
        from bucketizers_spark.pipeline import route_with_fallback

        df = _members_df(spark, values)
        res = route_with_fallback(
            df,
            {
                "strategy": "geospatial",
                "column": "value",
                "zoom": zoom,
                "page_size": page_size,
            },
        )
        oracle = GeospatialOracle(page_size=page_size, zoom=zoom)
        exp, orels = _oracle_assignments(oracle, values)
        assert _collect(res.assignments) == exp
        assert _rel_set(res.relations) == _oracle_rel_set(orels)


class TestMultiProperty:
    """Random 2-level multi specs vs a composed per-parent oracle
    (VERDICT r4 #7): stage 0 assigns the parent with its own sequential
    oracle; each parent bucket gets a DEDICATED child oracle instance
    (the reference's child-instance-per-parent, MultiBucketizer.ts:94-96)
    whose buckets/relations map child-root → parent and anything else →
    parent/name (mapTerm, ts:123-141; basic pages never collapse — page
    0 is parent/0). Exercises per-parent counters, rotation, tries, tile
    pagers, and per-parent fallback under adversarial inputs."""

    @_SET
    @given(
        data=st.data(),
        stage0=st.sampled_from(["basic", "subject"]),
        child=st.sampled_from(["basic", "subject", "substring", "geospatial"]),
        page0=st.integers(3, 8),
        cap=st.integers(1, 4),
    )
    def test_two_level_multi_matches_composed_oracle(
        self, spark, data, stage0, child, page0, cap
    ):
        from bucketizers_spark.oracle.reference import (
            BasicOracle,
            GeospatialOracle,
            SubjectPageOracle,
            SubstringOracle,
        )
        from bucketizers_spark.pipeline import build

        n = data.draw(st.integers(10, 30), label="n_members")
        parents = data.draw(
            st.lists(
                st.sampled_from(["p0", "p1", "p2"]), min_size=n, max_size=n
            ),
            label="parents",
        )
        if child == "geospatial":
            # incl. None: NULL WKT must reach the PARENT's bucketless
            # pager (the r5 multi-child null-safety fix)
            cvals = data.draw(
                st.lists(_wkt_value, min_size=n, max_size=n),
                label="cvals",
            )
        else:
            # ASCII-domain child values: the multi children run the fast
            # normalize tier, whose contract domain is ASCII
            cvals = data.draw(
                st.lists(
                    st.text("abz019 #,'-J", max_size=8),
                    min_size=n,
                    max_size=n,
                ),
                label="cvals",
            )
        rows = [
            (i, f"m{i}", parents[i], cvals[i]) for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "seq long, member_id string, parent string, cval string"
        )
        child_specs = {
            "basic": {"strategy": "basic", "page_size": cap},
            "subject": {
                "strategy": "subject",
                "column": "cval",
                "max_relations": cap,
            },
            "substring": {
                "strategy": "substring",
                "column": "cval",
                "page_size": cap,
            },
            "geospatial": {
                "strategy": "geospatial",
                "column": "cval",
                "zoom": 3,
                "page_size": cap,
            },
        }
        spec = {
            "strategy": "multi",
            "configs": [
                {"strategy": "basic", "page_size": page0}
                if stage0 == "basic"
                else {"strategy": "subject", "column": "parent"},
                child_specs[child],
            ],
        }
        res = build(df, spec)

        def make_child():
            return {
                "basic": lambda: BasicOracle(page_size=cap),
                "subject": lambda: SubjectPageOracle(
                    max_relations=cap, salt="s0"
                ),
                "substring": lambda: SubstringOracle(page_size=cap),
                "geospatial": lambda: GeospatialOracle(
                    page_size=cap, zoom=3
                ),
            }[child]()

        o0 = (
            BasicOracle(page_size=page0)
            if stage0 == "basic"
            else SubjectPageOracle(salt="s0")
        )
        children: dict = {}
        exp: dict = {}
        orels: set = set()
        for seq, mid, pval, cval in rows:
            out0 = o0.bucketize([pval], mid)
            parent = out0.buckets[0]
            orels |= {
                (r.from_bucket, r.relation_type, r.to_bucket, tuple(r.values))
                for r in out0.relations
            }
            co = children.setdefault(parent, make_child())
            outc = co.bucketize([cval] if cval is not None else None, mid)

            def mp(name, parent=parent):
                if child != "basic" and name == "root":
                    return parent
                return f"{parent}/{name}"

            exp[mid] = sorted(mp(b) for b in outc.buckets)
            orels |= {
                (mp(r.from_bucket), r.relation_type, mp(r.to_bucket),
                 tuple(r.values))
                for r in outc.relations
            }
        got = _collect(res.assignments)
        # members whose child chain yields no bucket (exhausted multi-word
        # trie walk) may surface as a NULL-bucket row or no row at all
        for mid, buckets in exp.items():
            got.setdefault(mid, []) if not buckets else None
        assert got == exp
        assert _rel_set(res.relations) == orels

    @_SET
    @given(
        data=st.data(),
        stage0=st.sampled_from(["basic", "subject"]),
        mid=st.sampled_from(["basic", "subject"]),
        leaf=st.sampled_from(["basic", "subject", "substring"]),
        rot0=st.sampled_from([2, 100]),
        cap=st.integers(1, 4),
    )
    def test_three_level_multi_matches_composed_oracle(
        self, spark, data, stage0, mid, leaf, rot0, cap
    ):
        """3-stage chains: the mapTerm prefixing composes through TWO
        rewrites (leaf names become p/q/name), each mid bucket holds a
        dedicated leaf-oracle instance, and stage-0 subject rotation
        (max_relations=2) runs concurrently with nested children."""
        from bucketizers_spark.oracle.reference import (
            BasicOracle,
            SubjectPageOracle,
            SubstringOracle,
        )
        from bucketizers_spark.pipeline import build

        n = data.draw(st.integers(10, 30), label="n_members")
        parents = data.draw(
            st.lists(
                st.sampled_from(["p0", "p1", "p2"]), min_size=n, max_size=n
            ),
            label="parents",
        )
        v1s = data.draw(
            st.lists(
                st.sampled_from(["a", "b", "c9"]), min_size=n, max_size=n
            ),
            label="v1s",
        )
        v2s = data.draw(
            st.lists(
                st.text("abz019 #,'-J", max_size=8), min_size=n, max_size=n
            ),
            label="v2s",
        )
        rows = [
            (i, f"m{i}", parents[i], v1s[i], v2s[i]) for i in range(n)
        ]
        df = spark.createDataFrame(
            rows,
            "seq long, member_id string, parent string, v1 string, v2 string",
        )
        level_specs = [
            {"strategy": "basic", "page_size": 5}
            if stage0 == "basic"
            else {
                "strategy": "subject",
                "column": "parent",
                "max_relations": rot0,
            },
            {"strategy": "basic", "page_size": cap + 1}
            if mid == "basic"
            else {
                "strategy": "subject",
                "column": "v1",
                "max_relations": cap,
            },
            {
                "basic": {"strategy": "basic", "page_size": cap},
                "subject": {
                    "strategy": "subject",
                    "column": "v2",
                    "max_relations": cap,
                },
                "substring": {
                    "strategy": "substring",
                    "column": "v2",
                    "page_size": cap,
                },
            }[leaf],
        ]
        res = build(
            df, {"strategy": "multi", "configs": level_specs}
        )

        kinds = [stage0, mid, leaf]

        def make(level):
            kind = kinds[level]
            if kind == "basic":
                return BasicOracle(page_size=level_specs[level]["page_size"])
            if kind == "subject":
                return SubjectPageOracle(
                    max_relations=level_specs[level]["max_relations"],
                    salt="s0",
                )
            return SubstringOracle(page_size=cap)

        root = {"oracle": make(0), "children": {}}
        exp: dict = {}
        orels: set = set()
        for seq, mid_id, pval, v1, v2 in rows:
            vals = [pval, v1, v2]
            node, prefix = root, None
            for lvl, kind in enumerate(kinds):
                out = node["oracle"].bucketize([vals[lvl]], mid_id)

                def mp(name, kind=kind, prefix=prefix):
                    if prefix is None:
                        return name
                    if kind != "basic" and name == "root":
                        return prefix
                    return f"{prefix}/{name}"

                orels |= {
                    (mp(r.from_bucket), r.relation_type, mp(r.to_bucket),
                     tuple(r.values))
                    for r in out.relations
                }
                if lvl == len(kinds) - 1:
                    exp[mid_id] = sorted(mp(b) for b in out.buckets)
                else:
                    full = mp(out.buckets[0])
                    node = node["children"].setdefault(
                        full, {"oracle": make(lvl + 1), "children": {}}
                    )
                    prefix = full
        got = _collect(res.assignments)
        for m, buckets in exp.items():
            got.setdefault(m, []) if not buckets else None
        assert got == exp
        assert _rel_set(res.relations) == orels


class TestSubjectProperty:
    @_SET
    @given(
        values=st.lists(
            st.one_of(st.text(_ALPHA, max_size=8), st.none()),
            min_size=10,
            max_size=40,
        ),
        max_relations=st.integers(1, 4),
    )
    def test_subject_matches_oracle(self, spark, values, max_relations):
        from bucketizers_spark.operators import fallback_pager

        df = _members_df(spark, values)
        matched = df.where(F.col("value").isNotNull())
        unmatched = df.where(F.col("value").isNull())
        res = subject_page(
            matched,
            "value",
            salt="s0",
            max_relations=max_relations,
            ascii_fast=False,  # unicode alphabet → the NFKD tier
        )
        fb = fallback_pager(unmatched)
        oracle = SubjectPageOracle(max_relations=max_relations, salt="s0")
        exp, orels = _oracle_assignments(oracle, values)
        assert _collect(res.assignments.unionByName(fb.assignments)) == exp
        assert _rel_set(
            res.relations.unionByName(fb.relations)
        ) == _oracle_rel_set(orels)


class TestNgramHelpersProperty:
    """functions/ngrams.py kernels vs a direct Python recomputation over
    random word lists — the kernels feed decontaminate/segment_dedup AND
    the streaming jobs, so gram identity is load-bearing. Null text, the
    empty string and texts shorter than n ride along on every example,
    and each kernel also runs with no id column."""

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.lists(
                st.sampled_from("ab cd ef gh xyzzy lorem".split()),
                min_size=1,
                max_size=24,
            ),
            min_size=1,
            max_size=12,
        ),
        st.integers(min_value=2, max_value=6),
    )
    def test_ngram_and_segment_hashes_match_python(
        self, spark, word_lists, n
    ):
        import hashlib

        from bucketizers_spark.functions.ngrams import (
            segment_hashes_frame,
            word_ngram_hashes_frame,
        )

        texts = [" ".join(ws) for ws in word_lists]
        texts += [None, "", " ".join(["ab"] * (n - 1))]
        df = spark.createDataFrame(
            list(enumerate(texts)), "i long, text string"
        )

        def per_id(frame, col):
            out: dict = {}
            for r in frame.collect():
                out.setdefault(r.i, []).append(r[col])
            return out

        grams = per_id(word_ngram_hashes_frame(df, ["i"], "text", n), "gram_h")
        segs = per_id(segment_hashes_frame(df, ["i"], "text", n), "seg_h")
        md5 = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
        want_g, want_s = {}, {}
        for i, text in enumerate(texts):
            if text is None:
                continue
            ws = text.split(" ")
            g = [md5(" ".join(ws[j : j + n])) for j in range(len(ws) - n + 1)]
            if g:
                want_g[i] = g
            nseg = -(-len(ws) // n)
            want_s[i] = [
                md5(" ".join(ws[c * n : (c + 1) * n])) for c in range(nseg)
            ]
        assert grams == want_g
        assert segs == want_s
        # no id column: the same hash multiset
        no_id = word_ngram_hashes_frame(df, [], "text", n)
        assert no_id.columns == ["gram_h"]
        assert sorted(r.gram_h for r in no_id.collect()) == sorted(
            h for hs in want_g.values() for h in hs
        )
        no_id = segment_hashes_frame(df, [], "text", n)
        assert sorted(r.seg_h for r in no_id.collect()) == sorted(
            h for hs in want_s.values() for h in hs
        )


class TestPackManifestProperty:
    """Random token-count profiles through the packing manifest
    (q_pack_sequences' _pack_manifest over with_global_prefix_sum) vs a
    pure-Python replay, plus the loader-contract invariants: lossless
    slice sums, exact chunk fullness, contiguous placement."""

    @given(
        n_toks=st.lists(st.integers(1, 200), min_size=1, max_size=40),
        L=st.sampled_from([7, 32, 128]),
    )
    @_SET
    def test_manifest_matches_replay(self, spark, n_toks, L):
        from pyspark.sql import functions as F

        from bucketizers_spark.entry_queries import _pack_manifest
        from bucketizers_spark.operators.rank import (
            with_global_prefix_sum,
        )

        df = spark.createDataFrame(
            [(f"d{i:03d}", n) for i, n in enumerate(n_toks)],
            "doc_id string, n_tok long",
        )
        o = with_global_prefix_sum(df, "doc_id", "n_tok", out_col="off")
        got = sorted(
            (r.chunk_id, r.doc_id, r.off_in_chunk, r.doc_off, r.n_from_doc)
            for r in _pack_manifest(o, L).collect()
        )
        # pure-Python replay in doc_id (== insertion) order
        want = []
        off = 0
        for i, n in enumerate(n_toks):
            d, fin = f"d{i:03d}", off + n
            for c in range(off // L, (fin - 1) // L + 1):
                s, e = max(off, c * L), min(fin, (c + 1) * L)
                want.append((c, d, s - c * L, s - off, e - s))
            off = fin
        assert got == sorted(want)
        # invariants: lossless per-doc token sums; every chunk except
        # the last exactly L tokens; slices within a chunk contiguous
        per_doc: dict = {}
        per_chunk: dict = {}
        for c, d, oic, doff, nfd in got:
            per_doc[d] = per_doc.get(d, 0) + nfd
            per_chunk.setdefault(c, []).append((oic, nfd))
        assert per_doc == {
            f"d{i:03d}": n for i, n in enumerate(n_toks)
        }
        last = max(per_chunk)
        for c, slices in per_chunk.items():
            slices.sort()
            pos = 0
            for oic, nfd in slices:
                assert oic == pos
                pos += nfd
            if c != last:
                assert pos == L


class TestCdcSegmentProperty:
    """Random word streams (unicode, single chars, repeated words —
    repeats are the adversarial CDC case since boundary windows
    collide) through cdc_segment_hashes_frame vs a pure-Python hashlib
    replay of the boundary rule and segment hashing; a null text and
    the empty string ride along, and the kernel also runs with no id
    column."""

    @given(
        words=st.lists(
            st.text("abñé0", min_size=1, max_size=4),
            min_size=1,
            max_size=120,
        ),
        window=st.sampled_from([1, 2, 4]),
    )
    @_SET
    def test_matches_hashlib_replay(self, spark, words, window):
        import hashlib

        from bucketizers_spark.functions.ngrams import cdc_segment_hashes_frame

        def replay(words):
            n = len(words)
            bnd = [
                i + 1
                for i in range(n)
                if i + 1 == n
                or hashlib.md5(
                    " ".join(words[max(0, i - (window - 1)) : i + 1]).encode()
                ).hexdigest()[0]
                == "0"
            ]
            want, prev = [], 0
            for b in bnd:
                want.append(
                    hashlib.md5(" ".join(words[prev:b]).encode()).hexdigest()
                )
                prev = b
            return want

        df = spark.createDataFrame(
            [(0, " ".join(words)), (1, None), (2, "")], "i long, text string"
        )
        got: dict = {}
        for r in cdc_segment_hashes_frame(
            df, ["i"], "text", window=window
        ).collect():
            got.setdefault(r.i, []).append(r.seg_h)
        want = {0: replay(words), 2: replay([""])}
        assert got == want
        no_id = cdc_segment_hashes_frame(df, [], "text", window=window)
        assert sorted(r.seg_h for r in no_id.collect()) == sorted(
            want[0] + want[2]
        )


class TestResizeProperty:
    """resize kernel vs an independent per-output-pixel overlap replay,
    across random dims (down, up, and mixed per axis) — pure numpy, so
    the example budget is generous."""

    @settings(max_examples=60, deadline=None)
    @given(
        h=st.integers(1, 16),
        w=st.integers(1, 16),
        oh=st.integers(1, 16),
        ow=st.integers(1, 16),
        nch=st.sampled_from([1, 3, 4]),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_matches_overlap_replay(self, h, w, oh, ow, nch, seed):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _resize_pixels

        px = np.random.default_rng(seed).random((h, w, nch))
        got = _resize_pixels(px, ow, oh)
        assert got.shape == (oh, ow, nch)
        out = np.zeros((oh, ow, nch))
        for o in range(oh):
            for p in range(ow):
                lo_y, hi_y = o * h / oh, (o + 1) * h / oh
                lo_x, hi_x = p * w / ow, (p + 1) * w / ow
                acc, tot = np.zeros(nch), 0.0
                for i in range(int(np.floor(lo_y)), min(int(np.ceil(hi_y)), h)):
                    for j in range(
                        int(np.floor(lo_x)), min(int(np.ceil(hi_x)), w)
                    ):
                        wy = min(hi_y, i + 1.0) - max(lo_y, float(i))
                        wx = min(hi_x, j + 1.0) - max(lo_x, float(j))
                        acc += px[i, j] * wy * wx
                        tot += wy * wx
                out[o, p] = acc / tot
        np.testing.assert_allclose(got, out, atol=1e-12)

    @settings(max_examples=20, deadline=None)
    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        oh=st.integers(1, 12),
        ow=st.integers(1, 12),
        v=st.floats(0.0, 1.0),
    )
    def test_constant_image_invariance(self, h, w, oh, ow, v):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _resize_pixels

        px = np.full((h, w, 3), v)
        got = _resize_pixels(px, ow, oh)
        np.testing.assert_allclose(got, np.full((oh, ow, 3), v), atol=1e-12)


class TestQualityGateProperty:
    """The r6 quality-gate rewrite's load-bearing equivalence: the
    regexp_count token-set formulation (whole-stage codegen) must count
    EXACTLY like size(filter(split(text,' '), isin)) for arbitrary
    text, and the greatest+first-match-CASE language argmax must equal
    the sequential strictly-greater fold. Hypothesis drives hostile
    inputs (marker words glued to punctuation, newlines, tabs, double
    spaces, boundary tokens, empty strings); the per-example engine is
    plain Python so thousands of cases run without a Spark job each."""

    @staticmethod
    def _py_token_count(text: str, vals: list[str]) -> int:
        return sum(1 for w in text.split(" ") if w in vals)

    @staticmethod
    def _py_fold_lang(text: str) -> str:
        from bucketizers_spark.functions.quality import LANG_MARKERS

        words = text.split(" ")
        score = {
            lang: sum(1 for w in words if w in m)
            for lang, m in LANG_MARKERS.items()
        }
        best, best_score = "en", score["en"]
        for lang in ["es", "de", "fr"]:
            if score[lang] > best_score:
                best, best_score = lang, score[lang]
        return best

    @staticmethod
    def _py_first_max_lang(text: str) -> str:
        from bucketizers_spark.functions.quality import LANG_MARKERS

        words = text.split(" ")
        score = {
            lang: sum(1 for w in words if w in m)
            for lang, m in LANG_MARKERS.items()
        }
        m = max(score.values())
        for lang in ["en", "es", "de", "fr"]:
            if score[lang] == m:
                return lang
        raise AssertionError("unreachable")

    _texts = st.lists(
        st.one_of(
            st.sampled_from(
                ["the", "a", "and", "of", "to", "in", "is", "el", "la",
                 "de", "der", "die", "und", "le", "et", "the,", "xthe",
                 "thex", "a.", "", "the\nand", "und\tder", "él"]
            ),
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_characters="\x00"
                ),
                max_size=8,
            ),
        ),
        max_size=40,
    ).map(lambda ws: " ".join(ws))

    @given(text=_texts)
    @settings(max_examples=2000, deadline=None)
    def test_argmax_formulations_agree(self, text):
        assert self._py_fold_lang(text) == self._py_first_max_lang(text)

    @pytest.mark.usefixtures("spark")
    def test_spark_expressions_match_python_on_corpus(self, spark):
        """One Spark job over a Hypothesis-style hostile corpus pins the
        JVM expressions (regexp_count boundaries, greatest+CASE argmax)
        against the plain-Python token semantics above."""
        import pandas as pd

        from bucketizers_spark.functions.quality import (
            STOPWORDS,
            quality_metrics_col,
        )

        rows = [
            "the quick the", "a a a", "aa the,", "xthe the", "",
            "the\nand of", "ends with the\n", "  double  spaces the  ",
            "el la de der die und le et", "tab\tthe here", "the\tand",
            "und\nder die", "multi\n\nline the\n", " the ", "the",
            "él la de", "el el el the the the", "de de und und",
        ]
        df = spark.createDataFrame(
            pd.DataFrame({"text": rows})
        ).select("text", quality_metrics_col(F.col("text")).alias("qm"))
        got = {r.text: r.qm for r in df.collect()}
        for text in rows:
            qm = got[text]
            words = text.split(" ")
            assert qm.n_words == len(words), text
            stops = self._py_token_count(text, STOPWORDS)
            assert qm.stop_ratio == round(stops / len(words), 4), text
            assert qm.pred_lang == self._py_fold_lang(text), text
