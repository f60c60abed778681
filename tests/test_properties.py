"""Property-based tests (hypothesis) for the driver-side arithmetic
cores — the pieces where an edge case would silently corrupt results
at any scale. Pure-Python targets, so hypothesis can hammer them."""

from hypothesis import given, settings, strategies as st

from demv_spark.operators.balancer import _simulate_target, disparity_trajectory


def _reference_loop(n0, total, w_exp, round_level, stop):
    if n0 == 0:
        return n0, 0
    n, i = n0, 0
    w_obs = n / total
    disp = round(w_exp / w_obs, round_level) if round_level else w_exp / w_obs
    while disp != 1 and i != stop and w_obs != 0:
        ratio = w_exp / w_obs
        if ratio > 1:
            n += 1
        elif ratio < 1:
            n -= 1
        w_obs = n / total
        if w_obs == 0:
            return n, i
        disp = round(w_exp / w_obs, round_level) if round_level else w_exp / w_obs
        i += 1
    return n, i


@settings(max_examples=300, deadline=None)
@given(
    total=st.integers(10, 100_000),
    frac=st.floats(1e-4, 1.0),
    w_exp=st.floats(1e-5, 0.5),
    round_level=st.sampled_from([1, 2, 3, None]),
    stop=st.sampled_from([1, 7, 100, 10_000]),
)
def test_simulate_target_always_matches_reference(total, frac, w_exp, round_level, stop):
    n0 = max(1, int(total * frac))
    assert _simulate_target(n0, total, w_exp, round_level, stop) == _reference_loop(
        n0, total, w_exp, round_level, stop
    )


@settings(max_examples=200, deadline=None)
@given(
    total=st.integers(10, 5_000),
    frac=st.floats(1e-3, 1.0),
    w_exp=st.floats(1e-4, 0.5),
    stop=st.sampled_from([5, 50, 10_000]),
)
def test_trajectory_consistent_with_target(total, frac, w_exp, stop):
    """The trajectory's length-1 equals the iteration count and its
    terminal state agrees with _simulate_target (both derive from the
    same reference loop)."""
    n0 = max(1, int(total * frac))
    target, iters = _simulate_target(n0, total, w_exp, 1, stop)
    traj = disparity_trajectory(n0, total, w_exp, 1, stop)
    if target > 0:
        assert len(traj) - 1 == iters
        final = round(w_exp / (target / total), 1)
        assert traj[-1] == final


@settings(max_examples=100, deadline=None)
@given(
    total=st.integers(10, 100_000),
    frac=st.floats(1e-4, 1.0),
    w_exp=st.floats(1e-5, 0.5),
)
def test_converged_target_satisfies_invariant(total, frac, w_exp):
    """If the loop converges (not capped), the target satisfies the
    reference's fixed-point invariant round(w_exp/w_obs, 1) == 1 with
    w_exp frozen on the ORIGINAL N and w_obs = target/N — the EXACT
    float association of helpers.py:10 (w_exp/(n/total), two
    divisions). The algebraically equal (w_exp·N)/target can differ
    by 1 ulp and round to 0.9 at a window edge (hypothesis found
    total=22363, w_exp=0.5: v_ref=0.9500000000000001 → 1.0 but
    v_alt=0.95 → 0.9), so the invariant must be stated in the
    reference's own expression."""
    n0 = max(1, int(total * frac))
    target, iters = _simulate_target(n0, total, w_exp, 1, 10_000)
    if iters < 10_000 and target > 0:
        assert round(w_exp / (target / total), 1) == 1.0


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.booleans()),
        min_size=2,
        max_size=60,
    ).filter(lambda xs: any(y for _, y in xs) and any(not y for _, y in xs))
)
def test_auc_census_formula_matches_pair_counting(pairs):
    """metrics.auc_exact's census identity: for a score group of size
    c with p positives and cum rows strictly below, positives
    contribute p*(2*cum + c + 1) to S2 = 2*sum(tie-averaged ranks of
    positives); AUC derived from (S2, P, N) must equal brute-force
    concordant-pair counting with ties at 0.5 — on any multiset."""
    from collections import Counter

    groups = sorted(Counter(pairs).items())
    by_score = {}
    for (s, y), n in groups:
        c, p = by_score.get(s, (0, 0))
        by_score[s] = (c + n, p + (n if y else 0))
    s2 = 0
    cum = 0
    for s in sorted(by_score):
        c, p = by_score[s]
        s2 += p * (2 * cum + c + 1)
        cum += c
    P = sum(1 for _, y in pairs if y)
    N = len(pairs) - P
    auc_formula = (s2 / 2 - P * (P + 1) / 2) / (P * N)

    num = 0.0
    for sp, yp in pairs:
        if not yp:
            continue
        for sn, yn in pairs:
            if yn:
                continue
            num += 1.0 if sp > sn else (0.5 if sp == sn else 0.0)
    assert abs(auc_formula - num / (P * N)) < 1e-12


# ---- int8 quantization error bound (pure-python twin of the
# similarity.quantize_embeddings column arithmetic) ----


def _quantize_py(v):
    amax = max(abs(x) for x in v)
    if amax == 0:
        return [0] * len(v), 0.0
    scale = amax / 127.0
    import math
    return [int(math.floor(x * 127.0 / amax + 0.5)) for x in v], scale


@settings(max_examples=300, deadline=None)
@given(
    v=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False, width=32),
        min_size=1, max_size=64,
    )
)
def test_quantization_roundtrip_error_bounded(v):
    """codes ∈ [-127, 127] and |v_i − code_i·scale| ≤ scale/2 + ulp:
    the reconstruction error of round-half-up symmetric quantization
    never exceeds half a step."""
    codes, scale = _quantize_py(v)
    assert all(-127 <= c <= 127 for c in codes)
    if scale == 0.0:
        assert all(c == 0 for c in codes)
        return
    for x, c in zip(v, codes):
        assert abs(x - c * scale) <= scale / 2 * (1 + 1e-9) + 1e-12


# ---- temperature-mixture target arithmetic (pure-python twin of
# corpus.temperature_mixture's integer derivation) ----


def _temperature_targets(avails, total=None):
    import math
    qs = {g: math.floor(math.sqrt(a) * 1e6 + 0.5) for g, a in avails.items() if a > 0}
    if not qs:
        return {}
    S = sum(qs.values())
    T = min(a * S // qs[g] for g, a in avails.items() if a > 0) if total is None else total
    return {g: T * q // S for g, q in qs.items()}


@settings(max_examples=300, deadline=None)
@given(
    avails=st.dictionaries(
        st.sampled_from(list("abcdefgh")),
        st.integers(0, 10_000_000),
        min_size=1, max_size=8,
    )
)
def test_temperature_targets_feasible_and_flattening(avails):
    """Invariants of the integer target derivation: every target is
    non-negative and never exceeds the group's availability (the
    feasible-T rule), zero-unit groups get no target, and sqrt
    flattening holds — a bigger group never gets a LOWER target."""
    t = _temperature_targets(avails)
    pos = {g: a for g, a in avails.items() if a > 0}
    assert set(t) == set(pos)
    for g, a in pos.items():
        assert 0 <= t[g] <= a
    ranked = sorted(pos, key=lambda g: pos[g])
    for g1, g2 in zip(ranked, ranked[1:]):
        assert t[g1] <= t[g2] or pos[g1] == pos[g2]


# ---- round-8 pure-Python cores ----

@settings(max_examples=300, deadline=None)
@given(
    p=st.sampled_from([4, 6, 8]),
    regs=st.lists(st.integers(1, 57), min_size=1, max_size=64),
)
def test_hll_estimate_fixed_point_equals_fraction(p, regs):
    """The integer-division estimate (rational alpha cleared of
    denominators) equals floor(alpha_m * m^2 / sum(2^-M_j)) computed
    in exact Fractions, for any register multiset — pins the
    fixed-point algebra the Spark DECIMAL(38,0) / DuckDB HUGEINT
    expressions implement."""
    from fractions import Fraction

    m = 1 << p
    big_r = 61 - p
    regs = [min(r, big_r) for r in regs[:m]]
    n_regs = len(regs)
    denom = sum(1 << (big_r - r) for r in regs) + (m - n_regs) * (1 << big_r)
    # the engine expression (per-m tabulated alpha below p=7 — the
    # asymptotic 0.7213/(1+1.079/m) only holds for m >= 128)
    if p < 7:
        a_num = {16: 673, 32: 697, 64: 709}[m]
        num = a_num * (m ** 2) * (1 << big_r)
        alpha_den = 1000
        alpha = Fraction(a_num, 1000)
    else:
        num = 7213 * 1000 * (m ** 3) * (1 << big_r)
        alpha_den = 10000 * (1000 * m + 1079)
        alpha = Fraction(7213, 10000) / (1 + Fraction(1079, 1000 * m))
    est_engine = num // (alpha_den * denom)
    # the textbook formula in exact rationals
    indicator = sum(Fraction(1, 1 << r) for r in regs) + (m - n_regs)
    est_ref = int(alpha * m * m / indicator)  # floor for positives
    assert est_engine == est_ref


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_merges=st.integers(0, 14),
)
def test_bpe_sequential_replace_property(seed, n_merges):
    """The q_text_bpe_encode oracle theorem under hypothesis: for any
    learn_bpe-produced merge list, sequential bracket-replace equals
    the greedy lowest-rank-first kernel — checked against a pure
    Python greedy mirror (no Spark in the loop, so hypothesis can
    hammer small dense alphabets where merges chain deeply)."""
    import random

    rng = random.Random(seed)
    words = [
        "".join(rng.choice("ab") for _ in range(rng.randrange(1, 7)))
        for _ in range(40)
    ]
    # learn merges with the learn_bpe recurrence on a word census
    from collections import Counter

    vocab = Counter(tuple(w) + ("</w>",) for w in words)
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for seq, n in vocab.items():
            for a, b in zip(seq, seq[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        best_n = max(pairs.values())
        best = min(p for p, n in pairs.items() if n == best_n)
        merges.append(best)
        merged = best[0] + best[1]
        nv = Counter()
        for seq, n in vocab.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and (seq[i], seq[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            nv[tuple(out)] += n
        vocab = nv

    ranks = {m: i for i, m in enumerate(merges)}

    def greedy(word):
        seq = list(word) + ["</w>"]
        while len(seq) > 1:
            best_rank, best_i = None, None
            for i, pair in enumerate(zip(seq, seq[1:])):
                r = ranks.get(pair)
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            seq[best_i : best_i + 2] = [seq[best_i] + seq[best_i + 1]]
        return seq

    def replay(word):
        s = "".join(f"\x01{c}\x02" for c in list(word) + ["</w>"])
        for a, b in merges:
            s = s.replace(f"\x01{a}\x02\x01{b}\x02", f"\x01{a}{b}\x02")
        return s.strip("\x01\x02").split("\x02\x01")

    for w in set(words):
        assert greedy(w) == replay(w), (w, merges)
