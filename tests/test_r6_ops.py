"""Round-6 operator additions (M122-M126): exact containment join,
token entropy, script mix, centroid cosine matrix — semantics
recomputed brute-force in plain Python plus each docstring's contract
edges. (M122's increment identity lives in tests/test_incremental.py.)
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import functions as F

from batch_processing_analysis_spark.operators import dedup as DD
from batch_processing_analysis_spark.operators import similarity as SM
from batch_processing_analysis_spark.operators import text_analysis as TA


def _docs(spark, items):
    return spark.createDataFrame(items, "doc_id long, text string")


# --------------------------------------------------------------- M124

def _brute_containment(items, c_pct, k=1):
    """All ordered pairs with |A∩B| >= c·|A| over word k-shingle sets."""
    def sset(t):
        w = t.lower().split()
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)} \
            if len(w) >= k else set()

    sets = {i: sset(t) for i, t in items}
    out = {}
    for (a, sa), (b, sb) in itertools.permutations(sets.items(), 2):
        if not sa:
            continue
        i = len(sa & sb)
        if i * 100 >= c_pct * len(sa):
            out[(a, b)] = math.floor(i * 1_000_000 / len(sa))
    return out


def test_containment_finds_quote_jaccard_misses(spark):
    # doc 1 is fully inside doc 2, but J = 3/10 < 0.5: ppjoin at t=0.5
    # must miss it, containment at c=0.8 must find it (one direction).
    items = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "unrelated words entirely different content"),
    ]
    docs = _docs(spark, items)
    jac = {(r.id_a, r.id_b)
           for r in DD.ppjoin_pairs(docs, t_pct=50, k=1).collect()}
    assert (1, 2) not in jac
    cont = {(r.id_a, r.id_b): r.cont_micro
            for r in DD.containment_pairs(docs, c_pct=80, k=1).collect()}
    assert cont == {(1, 2): 1_000_000}


def test_containment_brute_force_parity(spark):
    items = [
        (1, "a b c d e"),
        (2, "a b c d e f g h"),
        (3, "a b c"),
        (4, "x y z"),
        (5, "x y z a b"),
        (6, "c d e a b"),          # same set as 1 (order differs)
        (7, "q r s t u v w"),
    ]
    docs = _docs(spark, items)
    for c in (50, 80, 100):
        got = {(r.id_a, r.id_b): r.cont_micro
               for r in DD.containment_pairs(docs, c_pct=c,
                                             k=1).collect()}
        assert got == _brute_containment(items, c), f"c={c}"


def test_containment_guard_trips(spark):
    import pytest

    docs = _docs(spark, [(i, "same words here") for i in range(50)])
    with pytest.raises(DD.CandidateVolumeExceeded,
                       match="minhash_lsh_pairs"):
        DD.containment_pairs(docs, c_pct=80, k=1,
                             max_candidates=10).collect()


# --------------------------------------------------------------- M123

def test_token_entropy_hand_cases(spark):
    docs = _docs(spark, [
        (1, "a b c d"),      # uniform over 4 -> H = ln 4
        (2, "a a a a"),      # degenerate -> H = 0
        (3, "   "),          # empty -> zeros, exp(0) = 1
        (4, "a a b b"),      # uniform over 2 -> H = ln 2
    ])
    rows = {r.doc_id: r for r in TA.token_entropy(docs).collect()}
    ln4_term = math.floor(0.25 * math.log(4) * 1e9 + 0.5)
    assert rows[1]["entropy_nano"] == 4 * ln4_term
    assert rows[1]["vocab_size"] == 4
    assert rows[2]["entropy_nano"] == 0
    assert rows[2]["effective_vocab_micro"] == 1_000_000
    assert rows[3]["n_tokens"] == 0
    assert rows[3]["effective_vocab_micro"] == 1_000_000
    ln2_term = math.floor(0.5 * math.log(2) * 1e9 + 0.5)
    assert rows[4]["entropy_nano"] == 2 * ln2_term
    # effective vocab of the uniform-4 doc recovers ~4
    assert abs(rows[1]["effective_vocab_micro"] - 4_000_000) < 10


def test_token_entropy_order_and_partition_independent(spark):
    items = [(i, f"w{i % 7} w{i % 3} w{i % 3} tail") for i in range(40)]
    exp = {r.doc_id: r.entropy_nano
           for r in TA.token_entropy(_docs(spark, items)).collect()}
    got = {r.doc_id: r.entropy_nano
           for r in TA.token_entropy(
               _docs(spark, items).repartition(13)).collect()}
    assert got == exp


# --------------------------------------------------------------- M126

def test_script_mix_counts_unicode_classes(spark):
    docs = _docs(spark, [
        (1, "abc 12!"),            # 3 alpha, 2 digit, 1 space, 1 punct
        (2, "привет мир"),         # 10 non-ascii, 1 space
        (3, None),                 # null -> zeros
        (4, ""),
    ])
    rows = {r.doc_id: r for r in TA.script_mix(docs).collect()}
    r1 = rows[1]
    assert (r1["n_alpha"], r1["n_digit"], r1["n_space"],
            r1["n_punct"], r1["n_nonascii"]) == (3, 2, 1, 1, 0)
    r2 = rows[2]
    assert (r2["n_chars"], r2["n_nonascii"], r2["n_space"]) == (10, 9, 1)
    assert r2["nonascii_micro"] == math.floor(9 * 1_000_000 / 10)
    for d in (3, 4):
        assert rows[d]["n_chars"] == 0
        assert rows[d]["nonascii_micro"] == 0


# --------------------------------------------------------------- M125

def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_centroid_cosine_identical_and_orthogonal(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0), (2, [1.0, 0.0, 0.0], 0),
        (3, [1.0, 0.0, 0.0], 1),                    # same direction as 0
        (4, [0.0, 1.0, 0.0], 2), (5, [0.0, 1.0, 0.0], 2),
        (6, [-1.0, 0.0, 0.0], 3),                   # opposite of 0
    ]
    got = {(r.label_a, r.label_b): r
           for r in SM.centroid_cosine_matrix(_emb(spark, rows)).collect()}
    assert set(got) == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}
    assert got[(0, 1)]["cos_micro"] == 1_000_000
    assert got[(0, 2)]["cos_micro"] == 0
    assert got[(0, 3)]["cos_micro"] == -1_000_000
    assert (got[(0, 1)]["n_a"], got[(0, 1)]["n_b"]) == (2, 1)


def test_centroid_cosine_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(5)
    vecs = rng.randn(30, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], int(i % 3))
            for i in range(30)]
    got = {(r.label_a, r.label_b): r.cos_micro
           for r in SM.centroid_cosine_matrix(_emb(spark, rows)).collect()}
    # replicate the integer-micro quantization exactly
    cents = {}
    for lab in range(3):
        comp = np.floor(vecs[[i for i in range(30) if i % 3 == lab]]
                        .astype("float64") * 1e6)
        s = comp.sum(axis=0)
        cents[lab] = np.floor(s / comp.shape[0])
    for (a, b), cm in got.items():
        ca, cb = cents[a], cents[b]
        cos = float(ca @ cb) / (math.sqrt(float(ca @ ca))
                                * math.sqrt(float(cb @ cb)))
        assert cm == math.floor(cos * 1e6 + 0.5), (a, b)


# --------------------------------------------------------------- M127

def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double"
    )


def test_last_touch_attribution_hand_cases(spark):
    import datetime as dt

    from batch_processing_analysis_spark.operators.events_analytics \
        import last_touch_attribution

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(h=0, m=0, s=0, us=0):
        return t0 + dt.timedelta(hours=h, minutes=m, seconds=s,
                                 microseconds=us)

    rows = [
        # u1: click -> click -> purchase: latest click attributed
        (1, 1, "click", at(0), 0.0),
        (2, 1, "click", at(1), 0.0),
        (3, 1, "purchase", at(2), 10.0),
        # u2: click 25h before purchase -> outside window, NULL
        (4, 2, "click", at(0), 0.0),
        (5, 2, "purchase", at(25), 20.0),
        # u3: no click at all
        (6, 3, "purchase", at(1), 5.0),
        # u4: click at the purchase's EXACT ts, smaller id -> counts
        (7, 4, "click", at(3), 0.0),
        (8, 4, "purchase", at(3), 7.5),
        # u5: click at exact ts, LARGER id -> not prior
        (10, 5, "purchase", at(4), 1.0),
        (11, 5, "click", at(4), 0.0),
    ]
    got = {r.event_id: r
           for r in last_touch_attribution(_events(spark, rows)).collect()}
    assert got[3]["touch_id"] == 2 and got[3]["touch_gap_s"] == 3600
    assert got[3]["value_cents"] == 1000
    assert got[5]["touch_id"] is None and got[5]["touch_gap_s"] is None
    assert got[6]["touch_id"] is None
    assert got[8]["touch_id"] == 7 and got[8]["touch_gap_s"] == 0
    assert got[10]["touch_id"] is None


def test_last_touch_window_boundary_inclusive(spark):
    import datetime as dt

    from batch_processing_analysis_spark.operators.events_analytics \
        import last_touch_attribution

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 1, "click", t0, 0.0),
        (2, 1, "purchase", t0 + dt.timedelta(hours=24), 1.0),  # == 24h
        (3, 2, "click", t0, 0.0),
        (4, 2, "purchase",
         t0 + dt.timedelta(hours=24, microseconds=1), 1.0),    # > 24h
    ]
    got = {r.event_id: r.touch_id
           for r in last_touch_attribution(_events(spark, rows)).collect()}
    assert got[2] == 1
    assert got[4] is None


# --------------------------------------------------------------- M128

def test_frequent_paths_hand_counts(spark):
    import datetime as dt

    from batch_processing_analysis_spark.operators.events_analytics \
        import frequent_paths

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # u1: A B C A B C -> ABC x2, BCA x1, CAB x1
    for i, t in enumerate("ABCABC"):
        rows.append((eid, 1, t, t0 + dt.timedelta(minutes=i), 0.0))
        eid += 1
    # u2: A B C -> ABC x1 (no cross-user windows)
    for i, t in enumerate("ABC"):
        rows.append((eid, 2, t, t0 + dt.timedelta(minutes=i), 0.0))
        eid += 1
    got = {(r.step_1, r.step_2, r.step_3): r.n
           for r in frequent_paths(_events(spark, rows), k=10,
                                   depth=3).collect()}
    assert got == {("A", "B", "C"): 3, ("B", "C", "A"): 1,
                   ("C", "A", "B"): 1}


# --------------------------------------------------------------- M129

def _brute_ks(values_by_group):
    """Exact KS of each group vs rest, cross-multiplied integers."""
    import itertools as it

    all_vals = sorted(set(it.chain.from_iterable(
        values_by_group.values())))
    N = sum(len(v) for v in values_by_group.values())
    out = {}
    for g, vals in values_by_group.items():
        ng = len(vals)
        rest = [x for gg, v in values_by_group.items() if gg != g
                for x in v]
        num = 0
        for x in all_vals:
            cg = sum(1 for v in vals if v <= x)
            cr = sum(1 for v in rest if v <= x)
            num = max(num, abs(cg * (N - ng) - cr * ng))
        out[g] = (ng, N - ng, num)
    return out


def test_ks_drift_brute_force_parity(spark):
    from batch_processing_analysis_spark.operators.events_analytics \
        import ks_drift_by_group

    groups = {
        "a": [1, 2, 3, 4, 5, 5, 6],
        "b": [4, 5, 6, 7, 8],
        "c": [1, 1, 2, 9],
    }
    rows = [(g, v) for g, vals in groups.items() for v in vals]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    got = {r.source: (r.n_group, r.n_rest, r.ks_num, r.ks_denom,
                      r.ks_micro)
           for r in ks_drift_by_group(df).collect()}
    exp = _brute_ks(groups)
    import math
    for g, (ng, nr, num) in exp.items():
        assert got[g] == (ng, nr, num, ng * nr,
                          math.floor(num * 1_000_000 / (ng * nr))), g


def test_ks_drift_identical_distributions_zero(spark):
    rows = [(g, v) for g in ("x", "y") for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    from batch_processing_analysis_spark.operators.events_analytics \
        import ks_drift_by_group

    for r in ks_drift_by_group(df).collect():
        assert r.ks_num == 0 and r.ks_micro == 0


# --------------------------------------------------------------- M133

def _docs4(spark, items):
    return spark.createDataFrame(
        items, "doc_id long, text string, lang string, source string"
    )


def test_novelty_attribution_first_source_wins(spark):
    # 8-gram attribution in ascending source order: s1 contributes the
    # gram first, s2's identical text adds nothing new.
    base = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = {r["source"]: r for r in TA.novelty_attribution(_docs4(spark, [
        (1, base, "en", "s1"),
        (2, base, "en", "s2"),
        (3, base + " w9", "en", "s2"),   # adds exactly one new 8-gram
    ])).collect()}
    assert rows["s1"]["n_grams_seen"] == 1
    assert rows["s1"]["n_grams_first"] == 1
    assert rows["s1"]["novelty_micro"] == 1_000_000
    assert rows["s2"]["n_grams_seen"] == 2
    assert rows["s2"]["n_grams_first"] == 1   # only 'w2..w9'
    assert rows["s2"]["novelty_micro"] == 500_000
    total_first = sum(r["n_grams_first"] for r in rows.values())
    assert total_first == 2  # == corpus distinct grams


def test_novelty_attribution_short_docs_zero_seen(spark):
    rows = {r["source"]: r for r in TA.novelty_attribution(_docs4(spark, [
        (1, "too short", "en", "s1"),
    ])).collect()}
    # fewer than 8 tokens -> no grams -> source absent entirely
    assert rows == {}


# --------------------------------------------------------------- M134

def test_weighted_median_hand_case(spark):
    from batch_processing_analysis_spark.operators.ordering import (
        weighted_median_by_group,
    )

    # lengths 1,1,1,10: char mass = 13, half = 6.5 -> cum at v=1 is 3
    # (3*2=6 < 13), at v=10 is 13 (26 >= 13) -> wmedian 10. The PLAIN
    # median would be 1.
    rows = [("s", 1), ("s", 1), ("s", 1), ("s", 10),
            ("t", 5), ("t", 5)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    got = {r.source: r for r in weighted_median_by_group(df).collect()}
    assert got["s"]["wmedian"] == 10
    assert got["s"]["total_weight"] == 13 and got["s"]["n_rows"] == 4
    assert got["t"]["wmedian"] == 5


def test_weighted_median_explicit_weight_and_python_parity(spark):
    import numpy as np

    from batch_processing_analysis_spark.operators.ordering import (
        weighted_median_by_group,
    )

    rng = np.random.RandomState(3)
    rows = [("g", int(v), int(w)) for v, w in zip(
        rng.randint(1, 50, 60), rng.randint(1, 9, 60))]
    df = spark.createDataFrame(rows, "source string, v long, w long")
    got, = weighted_median_by_group(df, value_col="v",
                                    weight_col="w").collect()

    total = sum(w for _, _, w in rows)
    cum = 0
    expect = None
    for v in sorted({v for _, v, _ in rows}):
        cum += sum(w for _, vv, w in rows if vv == v)
        if cum * 2 >= total:
            expect = v
            break
    assert got["wmedian"] == expect


# --------------------------------------------------------------- M135

def test_zipf_slope_exact_power_law(spark):
    # counts c_r = round(1000 / r) for r=1..20 with distinct tokens ->
    # slope should recover ~ -1 (within quantization noise).
    rows = []
    did = 0
    for r in range(1, 21):
        c = max(1, round(1000 / r))
        for _ in range(c):
            rows.append((did, f"tok{r:02d}", "en", "s"))
            did += 1
    docs = _docs4(spark, [(i, t, lang, s) for i, (di, t, lang, s) in
                          enumerate(rows)])
    row, = TA.zipf_slope(docs, text_col="text").collect()
    assert row["vocab_size"] == 20
    assert -1_100_000 < row["slope_micro"] < -900_000


def test_zipf_slope_flat_distribution_is_zero(spark):
    # all tokens equally frequent -> ln(c) constant -> slope 0
    docs = _docs4(spark, [
        (i, " ".join(f"t{j}" for j in range(10)), "en", "s")
        for i in range(5)
    ])
    row, = TA.zipf_slope(docs).collect()
    assert row["slope_micro"] == 0


def test_zipf_slope_single_token_null(spark):
    docs = _docs4(spark, [(1, "only only only", "en", "s")])
    row, = TA.zipf_slope(docs).collect()
    assert row["vocab_size"] == 1 and row["slope_micro"] is None


# --------------------------------------------------------------- M136

def test_linear_scores_relational_hand_cases(spark):
    from batch_processing_analysis_spark.operators.scoring import (
        linear_scores_relational,
        seeded_weights,
    )

    docs = _docs(spark, [
        (1, "good text with the key words"),
        (2, "bad bad noise"),
        (3, "the the the"),
        (4, "   "),            # zero tokens -> logit = bias
        (5, "unseen vocabulary entirely"),
        # ADVICE r6: non-ASCII whitespace (NBSP, ideographic space)
        # is NOT a separator — Java regex \s is ASCII; the glued
        # "the key" token is OOV.
        (6, "the\u00a0key words\u3000words GOOD Bad"),
    ])
    w = seeded_weights(["good", "bad", "the", "key", "words", "text"])
    rel = sorted(map(tuple, linear_scores_relational(
        docs, w, bias_micro=250_000).collect()))
    rows = {r[0]: r for r in rel}
    # hand check: doc 3 = 3x weight('the') + bias
    assert rows[3][2] == 3 * w["the"] + 250_000
    assert rows[4][1] == 0 and rows[4][2] == 250_000
    # sigmoid(0.25) in micros
    import math
    assert rows[4][3] == math.floor(1e6 / (1 + math.exp(-0.25)) + 0.5)


def test_linear_scores_weights_are_engine_portable(spark):
    # the seeded weight must equal the DuckDB expression
    # (CAST('0x'||substr(md5(seed||chr(31)||t),1,15) AS BIGINT)
    #  % 2000000) - 1000000
    import duckdb

    from batch_processing_analysis_spark.operators.scoring import (
        seeded_weights,
    )

    w = seeded_weights(["alpha", "beta", "the"])
    con = duckdb.connect()
    for t, expect in w.items():
        got = con.execute(
            "SELECT (CAST('0x' || substr(md5('linear:0' || chr(31) "
            "|| ?), 1, 15) AS BIGINT) % 2000000) - 1000000", [t]
        ).fetchone()[0]
        assert got == expect, t


# --------------------------------------------------------------- M139/M140

def test_conformance_fitness_hand_case(spark):
    import datetime as dt

    from batch_processing_analysis_spark.operators.events_analytics \
        import conformance_fitness

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 5 conforming cases A->B->C; 1 deviant A->C->B
    for u in range(5):
        for i, t in enumerate("ABC"):
            rows.append((eid, u, t, t0 + dt.timedelta(minutes=i), 0.0))
            eid += 1
    for i, t in enumerate("ACB"):
        rows.append((eid, 99, t, t0 + dt.timedelta(minutes=i), 0.0))
        eid += 1
    got = {r.user_id: r for r in conformance_fitness(
        _events(spark, rows), min_support=3).collect()}
    # model edges (support >= 3): A->B (5), B->C (5)
    for u in range(5):
        assert got[u]["fitness_micro"] == 1_000_000
        assert got[u]["n_transitions"] == 2
    assert got[99]["n_conforming"] == 0
    assert got[99]["fitness_micro"] == 0


def test_variant_table_prefix_and_counts(spark):
    import datetime as dt

    from batch_processing_analysis_spark.operators.events_analytics \
        import variant_table

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    seqs = {1: "ABCDE", 2: "ABCXY", 3: "ABCDE", 4: "Z"}
    for u, seq in seqs.items():
        for i, t in enumerate(seq):
            rows.append((eid, u, t, t0 + dt.timedelta(minutes=i), 0.0))
            eid += 1
    got = {r.variant: (r.n_cases, r.n_events)
           for r in variant_table(_events(spark, rows), k=10,
                                  prefix_len=3).collect()}
    assert got == {"A,B,C": (3, 9), "Z": (1, 1)}
    # full variants distinguish cases 1/3 from 2
    full = {r.variant: r.n_cases
            for r in variant_table(_events(spark, rows), k=10).collect()}
    assert full == {"A,B,C,D,E": 2, "A,B,C,X,Y": 1, "Z": 1}


# --------------------------------------------------------------- M140

def test_embedding_dispersion_matches_brute_pairs(spark):
    import itertools as it
    import math

    import numpy as np

    from batch_processing_analysis_spark.operators.similarity import (
        embedding_dispersion,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 5).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], int(i % 2))
            for i in range(20)]
    got = {r.label: r for r in embedding_dispersion(
        _emb(spark, rows)).collect()}
    for lab in (0, 1):
        qv = [[math.floor(float(np.float32(x)) * 1e6) for x in vecs[i]]
              for i in range(20) if i % 2 == lab]
        sq = [sum((a - b) ** 2 for a, b in zip(u, v))
              for u, v in it.combinations(qv, 2)]
        mean_ordered = sum(sq) * 2 / (len(qv) * (len(qv) - 1))
        expect = math.floor(math.sqrt(mean_ordered) + 0.5)
        assert got[lab]["rms_pair_dist_micro"] == expect, lab
        assert got[lab]["n_vecs"] == len(qv)


def test_embedding_dispersion_degenerate_groups(spark):
    from batch_processing_analysis_spark.operators.similarity import (
        embedding_dispersion,
    )

    rows = [
        (1, [1.0, 2.0], 0),                 # singleton -> 0
        (2, [3.0, 4.0], 1), (3, [3.0, 4.0], 1),  # identical pair -> 0
        (4, [0.0, 0.0], 2), (5, [3.0, 4.0], 2),  # dist 5.0 -> 5e6
    ]
    got = {r.label: r.rms_pair_dist_micro
           for r in embedding_dispersion(_emb(spark, rows)).collect()}
    assert got == {0: 0, 1: 0, 2: 5_000_000}


# --------------------------------------------------------------- M141

def test_jaccard_threshold_profile_bands(spark):
    import itertools as it
    import math

    from batch_processing_analysis_spark.operators.dedup import (
        jaccard_threshold_profile,
    )

    # word-set (k=1) corpus with pairs at several Jaccard levels
    items = [
        (1, "a b c d"), (2, "a b c d"),          # J = 1.0
        (3, "a b c x"),                           # J(1,3) = 3/5 = 0.6
        (4, "a b y z"),                           # J(1,4) = 2/6 = 0.33
        (5, "p q r s"), (6, "p q r t"),           # J = 3/5 = 0.6
    ]
    got = {r.band_lo_micro: (r.n_pairs, r.min_jac_micro, r.max_jac_micro)
           for r in jaccard_threshold_profile(
               _docs(spark, items), t_pct=50, k=1,
               band_pct=10).collect()}
    # brute expectation
    sets = {i: set(t.split()) for i, t in items}
    pairs = []
    for (a, sa), (b, sb) in it.combinations(sets.items(), 2):
        i = len(sa & sb)
        u = len(sa | sb)
        if i * 100 >= 50 * u:
            pairs.append(math.floor(i * 1e6 / u))
    exp: dict = {}
    for j in pairs:
        lo = min(j // 100_000, 9) * 100_000
        n, mn, mx = exp.get(lo, (0, 10**9, -1))
        exp[lo] = (n + 1, min(mn, j), max(mx, j))
    assert got == exp
    assert set(got) == {600_000, 900_000}  # 0.6-band and the top band
