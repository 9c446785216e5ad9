"""Property-based checks (hypothesis) for the round-4 statistical tests.

Strategy: the driver's correctness chain is Spark ≡ DuckDB-oracle (hash
parity, tests/test_oracle_parity.py). These tests close the OTHER half:
DuckDB-oracle ≡ an independent pure-Python reference implementation on
randomized small datasets (ties and degenerate groups included). Running
the oracle SQL against a registered pandas frame needs no Spark job per
example, so hypothesis can afford real case counts. Together the two
halves give Spark ≡ textbook-formula by transitivity.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from apachebeam_python_spark import queries as q

# 2-dp positive values like the fixture; narrow range forces tie collisions
values = st.lists(
    st.integers(min_value=1, max_value=400).map(lambda c: c / 2.0),
    min_size=5,
    max_size=60,
)
TYPES = ["click", "view", "purchase", "error", "signup"]


def _events_frame(vals_by_type: dict[str, list[float]]) -> pd.DataFrame:
    rows = [
        {"event_type": t, "value": v, "event_id": i, "user_id": i}
        for i, (t, v) in enumerate(
            (t, v) for t, vs in vals_by_type.items() for v in vs
        )
    ]
    return pd.DataFrame(rows)


def _run_oracle(name: str, frame: pd.DataFrame) -> list[tuple]:
    con = duckdb.connect()
    con.register("events", frame)
    try:
        return con.execute(q.ORACLES[name]).fetchall()
    finally:
        con.close()


@settings(max_examples=30, deadline=None)
@given(a=values, b=values)
def test_mann_whitney_oracle_matches_reference(a, b):
    frame = _events_frame({"click": a, "view": b})
    (n1, n2, r1, u1, z), = _run_oracle("q_mann_whitney", frame)
    assert (n1, n2) == (len(a), len(b))

    pooled = sorted([(v, "click") for v in a] + [(v, "view") for v in b])
    # average ranks with ties
    ranks: dict[int, float] = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0  # mean of ranks i+1..j
        for k in range(i, j):
            ranks[k] = avg
        i = j
    ref_r1 = sum(ranks[k] for k in range(len(pooled)) if pooled[k][1] == "click")
    assert r1 == pytest.approx(ref_r1, abs=1e-6)
    ref_u1 = ref_r1 - len(a) * (len(a) + 1) / 2.0
    assert u1 == pytest.approx(ref_u1, abs=1e-6)

    n = len(a) + len(b)
    tie_sum = sum(t**3 - t for t in Counter(v for v, _ in pooled).values() if t > 1)
    var = len(a) * len(b) / 12.0 * ((n + 1) - tie_sum / (n * (n - 1)))
    if var > 0:
        ref_z = (ref_u1 - len(a) * len(b) / 2.0) / math.sqrt(var)
        assert z == pytest.approx(ref_z, abs=1e-5)


@settings(max_examples=30, deadline=None)
@given(a=values, b=values)
def test_ks_oracle_matches_reference(a, b):
    frame = _events_frame({"click": a, "view": b})
    (n1, n2, d), = _run_oracle("q_ks_test", frame)
    ref_d = max(
        abs(
            sum(1 for x in a if x <= v) / len(a)
            - sum(1 for x in b if x <= v) / len(b)
        )
        for v in set(a) | set(b)
    )
    assert 0.0 <= d <= 1.0
    assert d == pytest.approx(ref_d, abs=1e-6)


@settings(max_examples=30, deadline=None)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(TYPES),
            st.integers(min_value=1, max_value=40000).map(lambda c: c / 100.0),
        ),
        min_size=10,
        max_size=80,
    )
)
def test_chi_square_oracle_matches_reference(vals):
    by_type: dict[str, list[float]] = {}
    for t, v in vals:
        by_type.setdefault(t, []).append(v)
    frame = _events_frame(by_type)
    (n, dof, chi2, cv), = _run_oracle("q_chi_square", frame)
    counted = Counter((t, "hi" if v >= 100 else "lo") for t, v in vals)
    rows = Counter()
    cols = Counter()
    for (t, band), o in counted.items():
        rows[t] += o
        cols[band] += o
    grand = sum(counted.values())
    # full-grid reference (round-4 review finding #5): empty cells of a
    # populated band contribute their expected count
    bands = [b for b in ("hi", "lo") if cols[b] > 0]
    ref = sum(
        (grand * counted.get((t, band), 0) - rows[t] * cols[band]) ** 2
        / (grand * rows[t] * cols[band])
        for t in rows
        for band in bands
    )
    ref_dof = (len(rows) - 1) * (len(bands) - 1)
    assert n == grand
    assert dof == ref_dof
    assert chi2 == pytest.approx(ref, abs=1e-5)
    assert chi2 >= 0
    if ref_dof > 0:
        assert cv == pytest.approx(math.sqrt(ref / grand), abs=1e-5)
    else:
        assert cv is None


# --------------------------------------------------------------------------
# round-4 wave 3: spearman / changepoint / proration / z-order
# --------------------------------------------------------------------------
import numpy as np

ts_values = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=13),       # day offset
        st.integers(min_value=0, max_value=23),      # hour
        st.integers(min_value=1, max_value=400),     # half-cents value
    ),
    min_size=6,
    max_size=80,
)


def _ts_frame(rows_by_type: dict[str, list[tuple[int, int, int]]]) -> pd.DataFrame:
    rows = [
        {
            "event_type": t,
            "value": c / 2.0,
            "ts": pd.Timestamp("2024-03-01") + pd.Timedelta(days=d, hours=h),
            "event_id": i,
            "user_id": i,
        }
        for i, (t, (d, h, c)) in enumerate(
            (t, r) for t, rs in rows_by_type.items() for r in rs
        )
    ]
    return pd.DataFrame(rows)


@settings(max_examples=30, deadline=None)
@given(rows=ts_values)
def test_spearman_oracle_matches_pandas_ranks(rows):
    frame = _ts_frame({"view": rows})
    (event_type, n, rho), = _run_oracle("q_spearman", frame)
    assert event_type == "view" and n == len(rows)
    x = pd.Series([round((c / 2.0) * 100) for _, _, c in rows]).rank(method="average")
    y = pd.Series([h for _, h, _ in rows]).rank(method="average")
    if x.std() == 0 or y.std() == 0:
        assert rho is None
    else:
        ref = np.corrcoef(x, y)[0, 1]
        assert rho == pytest.approx(ref, abs=2e-6)


@settings(max_examples=30, deadline=None)
@given(rows=ts_values)
def test_changepoint_oracle_matches_bruteforce(rows):
    frame = _ts_frame({"purchase": rows})
    daily: dict[int, int] = {}
    for d, _h, c in rows:
        daily[d] = daily.get(d, 0) + round((c / 2.0) * 100)
    days = sorted(daily)
    if len(days) < 2:
        assert _run_oracle("q_changepoint", frame) == []
        return
    vals = [daily[d] for d in days]
    n, s = len(vals), sum(vals)
    best = None
    st_sum = 0
    for i, v in enumerate(vals[:-1], start=1):
        st_sum += v
        dev = n * st_sum - i * s
        ssb = (dev * dev) / (n * i * (n - i))
        if best is None or ssb > best[0] + 1e-9:
            best = (ssb, days[i - 1], i, st_sum)
    (split_day, n_pre, n_post, mean_pre, mean_post, ssb_value2), = _run_oracle(
        "q_changepoint", frame
    )
    _ssb, bday, bi, bst = best
    assert split_day == (pd.Timestamp("2024-03-01") + pd.Timedelta(days=bday)).strftime("%Y-%m-%d")
    assert (n_pre, n_post) == (bi, n - bi)
    assert mean_pre == pytest.approx(bst / (100.0 * bi), abs=1e-3)
    assert mean_post == pytest.approx((s - bst) / (100.0 * (n - bi)), abs=1e-3)
    assert ssb_value2 == pytest.approx(_ssb / 10000.0, abs=1e-3)


line_weights = st.lists(
    st.integers(min_value=1, max_value=900000),  # extendedprice cents
    min_size=1,
    max_size=7,
)


@settings(max_examples=40, deadline=None)
@given(orders=st.lists(line_weights, min_size=1, max_size=6))
def test_proration_sums_exactly_and_stays_proportional(orders):
    li_rows, o_rows = [], []
    for ok, weights in enumerate(orders, start=1):
        total = sum(weights)
        o_rows.append({"o_orderkey": ok, "o_totalprice": total / 100.0})
        for ln, w in enumerate(weights, start=1):
            li_rows.append(
                {"l_orderkey": ok, "l_linenumber": ln, "l_extendedprice": w / 100.0}
            )
    con = duckdb.connect()
    con.register("lineitem", pd.DataFrame(li_rows))
    con.register("orders", pd.DataFrame(o_rows))
    try:
        out = con.execute(q.ORACLES["q_proration"]).fetchall()
    finally:
        con.close()
    allocs: dict[int, dict[int, int]] = {}
    for ok, ln, alloc in out:
        allocs.setdefault(ok, {})[ln] = alloc
    for ok, weights in enumerate(orders, start=1):
        total_w = sum(weights)
        rebate = round(total_w) // 10
        got = allocs[ok]
        # conservation: allocations sum EXACTLY to the rebate
        assert sum(got.values()) == rebate
        for ln, w in enumerate(weights, start=1):
            exact = rebate * w / total_w
            # largest-remainder: each share within 1 cent of exact pro-rata
            assert abs(got[ln] - exact) < 1.0


@settings(max_examples=60, deadline=None)
@given(
    x=st.integers(min_value=0, max_value=1023),
    y=st.integers(min_value=0, max_value=1023),
)
def test_zorder_oracle_interleave_roundtrips(x, y):
    # replay the oracle's closed-form Morton key and de-interleave it
    from apachebeam_python_spark.queries.experiments import _Z_BITS, _Z_SQL

    con = duckdb.connect()
    try:
        (z,) = con.execute(
            f"SELECT ({_Z_SQL}) FROM (SELECT CAST({x} AS BIGINT) x, CAST({y} AS BIGINT) y)"
        ).fetchone()
    finally:
        con.close()
    rx = sum(((z >> (2 * b + 1)) & 1) << b for b in range(_Z_BITS))
    ry = sum(((z >> (2 * b)) & 1) << b for b in range(_Z_BITS))
    assert (rx, ry) == (x, y)


# --------------------------------------------------------------------------
# Round-5 additions: Cohen's d, Wilcoxon, Holt-Winters
# --------------------------------------------------------------------------
@settings(max_examples=30, deadline=None)
@given(a=values, b=values)
def test_cohens_d_oracle_matches_reference(a, b):
    frame = _events_frame({"click": a, "purchase": b})
    (n1, n2, m1, m2, d, g), = _run_oracle("q_cohens_d", frame)
    assert (n1, n2) == (len(a), len(b))
    ref_m1, ref_m2 = sum(a) / len(a), sum(b) / len(b)
    v1 = sum((x - ref_m1) ** 2 for x in a) / (len(a) - 1)
    v2 = sum((x - ref_m2) ** 2 for x in b) / (len(b) - 1)
    sp = math.sqrt(((len(a) - 1) * v1 + (len(b) - 1) * v2) / (len(a) + len(b) - 2))
    if sp > 0:
        ref_d = (ref_m1 - ref_m2) / sp
        assert d == pytest.approx(ref_d, abs=1e-5)
        j = 1.0 - 3.0 / (4.0 * (len(a) + len(b)) - 9.0)
        assert g == pytest.approx(ref_d * j, abs=1e-5)


pairs = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=200),
        st.integers(min_value=1, max_value=200),
    ),
    min_size=6,
    max_size=40,
)


@settings(max_examples=25, deadline=None)
@given(ps=pairs)
def test_wilcoxon_oracle_matches_reference(ps):
    import datetime as dt

    rows = []
    for u, (c1, c2) in enumerate(ps):
        rows.append(
            {"user_id": u, "ts": dt.datetime(2024, 1, 5), "value": c1 / 2.0}
        )
        rows.append(
            {"user_id": u, "ts": dt.datetime(2024, 1, 20), "value": c2 / 2.0}
        )
    frame = pd.DataFrame(rows)
    res = _run_oracle("q_wilcoxon_signed_rank", frame)
    ds = [round(c2 * 50) - round(c1 * 50) for c1, c2 in ps if c1 != c2]
    if not ds:
        assert res == [] or res[0][0] == 0
        return
    (n, wp2, wm2, z), = res
    assert n == len(ds)
    # reference: average ranks of |d| with ties
    ads = sorted(abs(d) for d in ds)
    rank_of = {}
    i = 0
    while i < len(ads):
        j = i
        while j < len(ads) and ads[j] == ads[i]:
            j += 1
        for v in range(i, j):
            rank_of[ads[i]] = (i + 1 + j) / 2.0
        i = j
    ref_wp = sum(rank_of[abs(d)] for d in ds if d > 0)
    ref_wm = sum(rank_of[abs(d)] for d in ds if d < 0)
    assert wp2 == pytest.approx(2 * ref_wp)
    assert wm2 == pytest.approx(2 * ref_wm)
    tie_sum = sum(
        t**3 - t for t in Counter(abs(d) for d in ds).values() if t > 1
    )
    var = len(ds) * (len(ds) + 1) * (2 * len(ds) + 1) / 24.0 - tie_sum / 48.0
    if var > 0:
        ref_z = (ref_wp - len(ds) * (len(ds) + 1) / 4.0) / math.sqrt(var)
        assert z == pytest.approx(ref_z, abs=1e-5)


@settings(max_examples=15, deadline=None)
@given(
    cs=st.lists(
        st.integers(min_value=100, max_value=100_000), min_size=15, max_size=45
    )
)
def test_holt_winters_oracle_matches_reference(cs):
    import datetime as dt

    frame = pd.DataFrame(
        [
            {"ts": dt.datetime(2024, 1, 1) + dt.timedelta(days=i), "value": c / 100.0}
            for i, c in enumerate(cs)
        ]
    )
    rows = _run_oracle("q_holt_winters", frame)
    assert [h for h, _ in sorted(rows)] == [1, 2, 3, 4, 5, 6, 7]
    # pure-python reference fold, identical init/coefficients
    y = [c / 100.0 for c in cs]
    l = sum(cs[0:7]) / 700.0
    b = (sum(cs[7:14]) - sum(cs[0:7])) / 4900.0
    s = [cs[i] / 100.0 - l for i in range(7)]
    for t in range(7, len(y)):
        idx = t % 7
        snap = s[idx]
        lnew = 0.25 * (y[t] - snap) + 0.75 * (l + b)
        bnew = 0.25 * (lnew - l) + 0.75 * b
        s[idx] = 0.5 * (y[t] - lnew) + 0.5 * snap
        l, b = lnew, bnew
    for h, f in sorted(rows):
        ref = l + h * b + s[(len(y) - 1 + h) % 7]
        assert f == pytest.approx(ref, abs=1e-3)


@settings(max_examples=30, deadline=None)
@given(a=values)
def test_jarque_bera_oracle_matches_reference(a):
    frame = pd.DataFrame(
        [{"event_type": "click", "value": v, "user_id": i} for i, v in enumerate(a)]
    )
    (n, skew, exk, jb), = _run_oracle("q_jarque_bera", frame)
    assert n == len(a)
    cents = [round(v * 100) for v in a]
    mu = sum(cents) / n
    m2 = sum((c - mu) ** 2 for c in cents) / n
    if m2 > 0:
        m3 = sum((c - mu) ** 3 for c in cents) / n
        m4 = sum((c - mu) ** 4 for c in cents) / n
        ref_skew = m3 / m2**1.5
        ref_exk = m4 / m2**2 - 3.0
        assert skew == pytest.approx(ref_skew, abs=1e-5)
        assert exk == pytest.approx(ref_exk, abs=1e-5)
        assert jb == pytest.approx(n / 6.0 * (ref_skew**2 + ref_exk**2 / 4.0), abs=1e-3)
    else:
        assert skew is None and exk is None and jb is None


# --------------------------------------------------------------------------
# Round-5 continuation wave 2: MI, gain/lift,
# JS divergence, geohash
# --------------------------------------------------------------------------
@settings(max_examples=30, deadline=None)
@given(vals=st.lists(st.tuples(st.sampled_from(TYPES), values.map(lambda v: v[0])), min_size=5, max_size=120))
def test_mutual_information_oracle_matches_reference(vals):
    frame = pd.DataFrame(
        [{"event_type": t, "value": v, "user_id": i} for i, (t, v) in enumerate(vals)]
    )
    (n, mi, hx, hy), = _run_oracle("q_mutual_information", frame)
    assert n == len(vals)
    pairs = [(t, min(round(v * 100) // 5000, 3)) for t, v in vals]
    nxy = Counter(pairs)
    nx = Counter(t for t, _ in pairs)
    ny = Counter(b for _, b in pairs)
    ref_mi = sum(
        (c / n) * math.log(c * n / (nx[x] * ny[y])) for (x, y), c in nxy.items()
    )
    ref_hx = -sum((c / n) * math.log(c / n) for c in nx.values())
    ref_hy = -sum((c / n) * math.log(c / n) for c in ny.values())
    assert mi == pytest.approx(ref_mi, abs=1e-5)
    assert hx == pytest.approx(ref_hx, abs=1e-5)
    assert hy == pytest.approx(ref_hy, abs=1e-5)
    # information inequalities the census must respect
    assert mi >= -1e-6 and mi <= min(hx, hy) + 1e-6


def _ntile(n_rows: int, n_tiles: int, idx: int) -> int:
    """SQL ntile: first (n_rows % n_tiles) tiles get one extra row."""
    base, extra = divmod(n_rows, n_tiles)
    cut = (base + 1) * extra
    if idx < cut:
        return idx // (base + 1) + 1
    return extra + (idx - cut) // base + 1 if base else n_tiles


@settings(max_examples=30, deadline=None)
@given(
    users=st.lists(
        st.tuples(st.integers(0, 99999), st.booleans()),  # (click score cents, positive)
        min_size=10,
        max_size=80,
    )
)
def test_gain_lift_oracle_matches_reference(users):
    rows = []
    for u, (cc, pos) in enumerate(users):
        rows.append({"user_id": u, "event_type": "click", "value": cc / 100.0})
        rows.append(
            {"user_id": u, "event_type": "purchase", "value": 200.0 if pos else 10.0}
        )
    frame = pd.DataFrame(rows)
    out = _run_oracle("q_gain_lift", frame)
    order = sorted(range(len(users)), key=lambda u: (-users[u][0], u))
    n = len(users)
    total_pos = sum(1 for _, p in users if p)
    per = Counter()
    per_n = Counter()
    for idx, u in enumerate(order):
        d = _ntile(n, 10, idx)
        per_n[d] += 1
        per[d] += 1 if users[u][1] else 0
    cum_p = cum_n = 0
    ref = {}
    for d in sorted(per_n):
        cum_p += per[d]
        cum_n += per_n[d]
        ref[d] = (
            per_n[d],
            per[d],
            cum_p / total_pos if total_pos else None,
            (cum_p / total_pos) / (cum_n / n) if total_pos else None,
        )
    assert len(out) == len(ref)
    for decile, n_users, positives, cum_gain, lift in out:
        rn, rp, rg, rl = ref[decile]
        assert (n_users, positives) == (rn, rp)
        if rg is None:
            assert cum_gain is None and lift is None
        else:
            assert cum_gain == pytest.approx(rg, abs=1e-6)
            assert lift == pytest.approx(rl, abs=1e-6)


@settings(max_examples=20, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["web", "books", "code"]),
            st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=8),
        ),
        min_size=2,
        max_size=40,
    ).filter(lambda ds: len({s for s, _ in ds}) >= 2)
)
def test_js_divergence_oracle_matches_reference(docs):
    frame = pd.DataFrame(
        [
            {"doc_id": i, "source": s, "text": " ".join(toks)}
            for i, (s, toks) in enumerate(docs)
        ]
    )
    con = duckdb.connect()
    con.register("documents", frame)
    try:
        out = con.execute(q.ORACLES["q_js_divergence"]).fetchall()
    finally:
        con.close()
    per_src = {}
    for s, toks in docs:
        per_src.setdefault(s, Counter()).update(toks)
    corpus = Counter()
    for c in per_src.values():
        corpus.update(c)
    t = sum(corpus.values())
    for source, n_tokens, jsd in out:
        pc = per_src[source]
        ns = sum(pc.values())
        assert n_tokens == ns
        rest = {w: corpus[w] - pc.get(w, 0) for w in corpus}
        nr = t - ns
        assert nr > 0  # oracle excludes whole-corpus sources
        ref = 0.0
        for w in corpus:
            p = pc.get(w, 0) / ns
            qv = rest[w] / nr
            m = (p + qv) / 2
            if p:
                ref += 0.5 * p * math.log2(p / m)
            if qv:
                ref += 0.5 * qv * math.log2(qv / m)
        assert jsd == pytest.approx(ref, abs=1e-5)
        assert -1e-6 <= jsd <= 1 + 1e-6


def _geohash_bisect(lat: float, lon: float, precision: int = 5) -> str:
    """Canonical bisection geohash (textbook algorithm, independent of the
    query's unrolled integer-interleave formula)."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_rng, lon_rng = [-90.0, 90.0], [-180.0, 180.0]
    bits, ch, out, even = 0, 0, [], True
    while len(out) < precision:
        if even:
            mid = (lon_rng[0] + lon_rng[1]) / 2
            if lon >= mid:
                ch = ch * 2 + 1
                lon_rng[0] = mid
            else:
                ch *= 2
                lon_rng[1] = mid
        else:
            mid = (lat_rng[0] + lat_rng[1]) / 2
            if lat >= mid:
                ch = ch * 2 + 1
                lat_rng[0] = mid
            else:
                ch *= 2
                lat_rng[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(b32[ch])
            bits, ch = 0, 0
    return "".join(out)


@settings(max_examples=60, deadline=None)
@given(
    # 2-dp grid: distance from k/100 to any 2^-12-cell boundary is ≥ ~1e-5
    # when nonzero, far above the ~1e-13 rounding of (lon+180.0) — the
    # multiply-quantize and interval-bisection forms provably agree there.
    # (Raw floats CAN straddle: lon = -1e-308 rounds to cell 4096 in the
    # multiply form but bisects west — a genuine boundary ULP, not a bug.)
    lat=st.integers(min_value=-8999, max_value=8999).map(lambda k: k / 100.0),
    lon=st.integers(min_value=-17999, max_value=17999).map(lambda k: k / 100.0),
)
def test_geohash_formula_matches_canonical_bisection(lat, lon):
    from apachebeam_python_spark.queries.analytics import (
        _GH_B32, _GH_LAT_BITS, _GH_LON_BITS,
    )

    x = math.floor((lon + 180.0) / 360.0 * 8192.0)
    y = math.floor((lat + 90.0) / 180.0 * 4096.0)
    z = sum(((x >> i) & 1) * w for i, w in _GH_LON_BITS) + sum(
        ((y >> j) & 1) * w for j, w in _GH_LAT_BITS
    )
    mine = "".join(_GH_B32[(z >> (20 - 5 * j)) & 31] for j in range(5))
    assert mine == _geohash_bisect(lat, lon, 5)


def test_geohash_known_answer():
    # the classic 57.64911,10.40744 → u4pruydqqvj example, precision 5
    assert _geohash_bisect(57.64911, 10.40744, 5) == "u4pru"


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),                      # nationkey (few classes)
            st.sampled_from(["AUTOMOBILE", "BUILDING"]),
            st.integers(-99999, 999999),            # acctbal cents
        ),
        min_size=3,
        max_size=120,
    )
)
def test_t_closeness_oracle_matches_reference(rows):
    frame = pd.DataFrame(
        [
            {"c_custkey": i, "c_nationkey": nk, "c_mktsegment": seg, "c_acctbal": c / 100.0}
            for i, (nk, seg, c) in enumerate(rows)
        ]
    )
    con = duckdb.connect()
    con.register("customer", frame)
    try:
        out = con.execute(q.ORACLES["q_t_closeness"]).fetchall()
    finally:
        con.close()
    bands = [(nk, seg, (c + 100000) // 200000) for nk, seg, c in rows]
    all_bands = sorted({b for _, _, b in bands})
    n = len(bands)
    gl = Counter(b for _, _, b in bands)
    per_class = {}
    for nk, seg, b in bands:
        per_class.setdefault((nk, seg), Counter())[b] += 1
    assert len(out) == len(per_class)
    for nk, seg, class_size, t in out:
        cc = per_class[(nk, seg)]
        cn = sum(cc.values())
        assert class_size == cn
        if len(all_bands) == 1:
            # single band: EMD is 0 but the (B-1) normalizer divides by zero
            # — DuckDB yields NULL/inf; the fixture always has >1 band, so
            # just require the class census to have matched.
            continue
        cp = cq = emd = 0.0
        for b in all_bands:
            cp += cc.get(b, 0) / cn
            cq += gl[b] / n
            emd += abs(cp - cq)
        assert t == pytest.approx(emd / (len(all_bands) - 1), abs=1e-5)


@settings(max_examples=25, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "x"]), min_size=1, max_size=40),
        min_size=1,
        max_size=15,
    )
)
def test_span_corruption_oracle_matches_reference(docs):
    import hashlib

    frame = pd.DataFrame(
        [{"doc_id": i * 5, "text": " ".join(toks)} for i, toks in enumerate(docs)]
    )
    con = duckdb.connect()
    con.register("documents", frame)
    try:
        out = {r[0]: r[1:] for r in con.execute(q.ORACLES["q_span_corruption"]).fetchall()}
    finally:
        con.close()
    assert len(out) == len(docs)
    for i, toks in enumerate(docs):
        doc_id = i * 5
        masked = [
            int(hashlib.md5(f"{doc_id}|{p}".encode()).hexdigest()[:15], 16) % 100 < 15
            for p in range(len(toks))
        ]
        inp, tgt, span = [], [], -1
        for p, (w, mk) in enumerate(zip(toks, masked)):
            start = mk and (p == 0 or not masked[p - 1])
            if start:
                span += 1
                inp.append(f"<extra_id_{span}>")
                tgt.append(f"<extra_id_{span}> {w}")
            elif mk:
                tgt.append(w)
            else:
                inp.append(w)
        n_tokens, n_masked, n_spans, input_md5, target_md5 = out[doc_id]
        assert n_tokens == len(toks)
        assert n_masked == sum(masked)
        assert n_spans == span + 1
        assert input_md5 == hashlib.md5(" ".join(inp).encode()).hexdigest()
        assert target_md5 == hashlib.md5(" ".join(tgt).encode()).hexdigest()


@settings(max_examples=15, deadline=None)
@given(
    edge_set=st.sets(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=14,
    )
)
def test_betweenness_oracle_matches_reference(edge_set):
    # build the four trade tables so the >=190 edge census yields edge_set
    sup, cus, orders, items = [], [], [], []
    for i, (a, b) in enumerate(sorted(edge_set)):
        sup.append({"s_suppkey": i, "s_nationkey": a})
        cus.append({"c_custkey": i, "c_nationkey": b})
        orders.append({"o_orderkey": i, "o_custkey": i})
        items.extend({"l_orderkey": i, "l_suppkey": i} for _ in range(190))
    con = duckdb.connect()
    con.register("supplier", pd.DataFrame(sup))
    con.register("customer", pd.DataFrame(cus))
    con.register("orders", pd.DataFrame(orders))
    con.register("lineitem", pd.DataFrame(items))
    try:
        out = {r[0]: r[1:] for r in con.execute(q.ORACLES["q_betweenness"]).fetchall()}
    finally:
        con.close()

    # pure-Python reference: BFS (d, sigma) per source, then the same
    # integer pair census
    from collections import deque

    adj: dict[int, set[int]] = {}
    for a, b in edge_set:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    dist, sig = {}, {}
    for s in nodes:
        d = {s: 0}
        g = {s: 1}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in d:
                    d[v] = d[u] + 1
                    g[v] = 0
                    dq.append(v)
                if d[v] == d[u] + 1:
                    g[v] += g[u]
        dist[s], sig[s] = d, g
    ref: dict[int, list[int]] = {}
    for v in nodes:
        pairs, acc = 0, 0
        for s in nodes:
            for t in nodes:
                if not (s < t and v != s and v != t):
                    continue
                if t not in dist[s] or v not in dist[s] or t not in dist[v]:
                    continue
                if dist[s][v] + dist[v][t] != dist[s][t]:
                    continue
                pairs += 1
                acc += sig[s][v] * sig[v][t] * 720720 // sig[s][t]
        if pairs:
            ref[v] = [pairs, acc]
    assert set(out) == set(ref)
    for v, (n_pairs, bc) in out.items():
        assert n_pairs == ref[v][0]
        assert bc == pytest.approx(ref[v][1] / 720720.0, abs=1e-6)
        # and the census stays within truncation distance of TRUE betweenness
        true_bc = sum(
            sig[s][v] * sig[v][t] / sig[s][t]
            for s in nodes
            for t in nodes
            if s < t and v != s and v != t
            and t in dist[s] and v in dist[s] and t in dist[v]
            and dist[s][v] + dist[v][t] == dist[s][t]
        )
        assert abs(bc - true_bc) <= ref[v][0] / 720720.0 + 1e-6


@settings(max_examples=25, deadline=None)
@given(
    blocks=st.lists(
        st.tuples(
            st.booleans(),  # user is complete (has all k types)
            st.lists(st.integers(min_value=1, max_value=12), min_size=5, max_size=5),
        ),
        min_size=3,
        max_size=30,
    )
)
def test_friedman_oracle_matches_reference(blocks):
    # narrow integer range forces within-block ties, exercising the correction
    rows = []
    complete = []
    for u, (full, meas) in enumerate(blocks):
        vals = meas if full else meas[:3]
        if full:
            complete.append(meas)
        for t, m in zip(TYPES, vals):
            rows.append({"user_id": u, "event_type": t, "value": float(m)})
    if not complete:  # oracle needs at least one complete block
        complete = [blocks[0][1]]
        for t, m in zip(TYPES, blocks[0][1]):
            rows.append({"user_id": 9999, "event_type": t, "value": float(m)})
    frame = pd.DataFrame(rows)
    (n, k, dof, qstat), = _run_oracle("q_friedman", frame)
    assert (n, k, dof) == (len(complete), 5, 4)
    # pure-python replay: within-block average ranks, tie-corrected Q
    rsums = Counter()
    tie3 = 0
    for meas in complete:
        order = sorted(range(5), key=lambda i: meas[i])
        i = 0
        while i < 5:
            j = i
            while j < 5 and meas[order[j]] == meas[order[i]]:
                j += 1
            avg = (i + 1 + j) / 2.0
            for m in range(i, j):
                rsums[order[m]] += avg
            if j - i > 1:
                tie3 += (j - i) ** 3 - (j - i)
            i = j
    denom = 1.0 - tie3 / (n * 5 * (25 - 1))
    if denom > 0:
        ref = (
            12.0 * sum(r * r for r in rsums.values()) / (n * 5 * 6) - 3.0 * n * 6
        ) / denom
        assert qstat == pytest.approx(ref, abs=1e-4)
    else:
        assert qstat is None


@settings(max_examples=30, deadline=None)
@given(a=values, b=values)
def test_cliffs_delta_oracle_matches_reference(a, b):
    frame = _events_frame({"click": a, "view": b})
    (n1, n2, gt, lt, delta), = _run_oracle("q_cliffs_delta", frame)
    assert (n1, n2) == (len(a), len(b))
    ref_gt = sum(1 for x in a for y in b if x > y)
    ref_lt = sum(1 for x in a for y in b if x < y)
    assert (gt, lt) == (ref_gt, ref_lt)
    assert delta == pytest.approx((ref_gt - ref_lt) / (len(a) * len(b)), abs=1e-6)


@settings(max_examples=30, deadline=None)
@given(a=values)
def test_grubbs_oracle_matches_reference(a):
    frame = _events_frame({"purchase": a})
    (n, suspect, g), = _run_oracle("q_grubbs", frame)
    assert n == len(a)
    cents = [round(v * 100) for v in a]
    total = sum(cents)
    # exact-integer argmax with ties broken toward the larger value
    best = max(cents, key=lambda c: (abs(c * n - total), c))
    assert suspect == best
    mean = total / n
    var = sum((c - mean) ** 2 for c in cents) / (n - 1) if n > 1 else 0.0
    if n > 1 and var > 0:
        assert g == pytest.approx(abs(best - mean) / math.sqrt(var), abs=1e-4)
    else:
        assert g is None


@settings(max_examples=30, deadline=None)
@given(
    series=st.lists(
        st.integers(min_value=1, max_value=40).map(lambda c: c / 2.0),
        min_size=3,
        max_size=40,
    )
)
def test_mann_kendall_oracle_matches_reference(series):
    # one event per day: ts strides days so each value IS the daily total
    rows = [
        {
            "event_type": "click",
            "value": v,
            "event_id": i,
            "user_id": i,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(days=i),
        }
        for i, v in enumerate(series)
    ]
    frame = pd.DataFrame(rows)
    (n, s_stat, var_s, z), = _run_oracle("q_mann_kendall", frame)
    assert n == len(series)
    cents = [round(v * 100) for v in series]
    ref_s = sum(
        (cents[j] > cents[i]) - (cents[j] < cents[i])
        for i in range(len(cents))
        for j in range(i + 1, len(cents))
    )
    assert s_stat == ref_s
    nn = len(cents)
    tie = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(cents).values() if t > 1
    )
    ref_var = (nn * (nn - 1) * (2 * nn + 5) - tie) / 18.0
    assert var_s == pytest.approx(ref_var, abs=1e-4)
    if ref_var > 0:
        ref_z = (
            (ref_s - 1) / math.sqrt(ref_var)
            if ref_s > 0
            else (ref_s + 1) / math.sqrt(ref_var) if ref_s < 0 else 0.0
        )
        assert z == pytest.approx(ref_z, abs=1e-4)
    else:
        assert z is None


@settings(max_examples=30, deadline=None)
@given(
    series=st.lists(
        st.integers(min_value=1, max_value=12).map(lambda c: c / 2.0),
        min_size=3,
        max_size=50,
    )
)
def test_runs_test_oracle_matches_reference(series):
    rows = [
        {
            "event_type": "click",
            "value": v,
            "event_id": i,
            "user_id": i,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(days=i),
        }
        for i, v in enumerate(series)
    ]
    frame = pd.DataFrame(rows)
    (n_kept, n1, n2, r, mu_r, z), = _run_oracle("q_runs_test", frame)
    cents = [round(v * 100) for v in series]
    med = sorted(cents)[(len(cents) + 1) // 2 - 1]  # lower median, 1-based rank
    signs = [1 if c > med else 0 for c in cents if c != med]
    assert n_kept == len(signs)
    # sums over an empty survivor set are NULL in both engines, not 0
    assert (n1 or 0) == sum(signs)
    assert (n2 or 0) == len(signs) - sum(signs)
    ref_r = sum(
        1 for i, s in enumerate(signs) if i == 0 or s != signs[i - 1]
    )
    assert (r or 0) == ref_r
    if signs:
        ref_mu = 2.0 * n1 * n2 / len(signs) + 1.0
        assert mu_r == pytest.approx(ref_mu, abs=1e-4)
        num = 2.0 * n1 * n2 * (2.0 * n1 * n2 - len(signs))
        if len(signs) > 1 and n1 > 0 and n2 > 0 and num > 0:
            sd = math.sqrt(num / (len(signs) ** 2 * (len(signs) - 1)))
            assert z == pytest.approx((ref_r - ref_mu) / sd, abs=1e-4)
        else:
            assert z is None


def _duckdb_round6(x: float) -> float:
    return duckdb.execute("SELECT round(?::DOUBLE, 6)", [x]).fetchone()[0]


@settings(max_examples=25, deadline=None)
@given(
    grid=st.lists(
        st.lists(st.integers(min_value=1, max_value=60), min_size=5, max_size=5),
        min_size=3,
        max_size=25,
    )
)
def test_cronbach_alpha_oracle_matches_reference(grid):
    """Exact, not approximate: values of ~1e4–6e5 put Σvar_item at ≥ 1e9
    whenever an item varies, where one ulp shows at 6 dp. Only an
    order-free Σvar_item — one exact integer sum of n·ss − s², divided
    once by n·(n−1) — reproduces bit for bit; a double sum of the item
    variances moves with the engine's hash-group order. The Python
    reference rounds with DuckDB's own round(x, 6)."""
    scale = 9973  # odd, so the cents sums are not round numbers
    rows = [
        {"event_type": t, "value": float(m * scale), "event_id": u * 5 + j, "user_id": u}
        for u, meas in enumerate(grid)
        for j, (t, m) in enumerate(zip(TYPES, meas))
    ]
    frame = pd.DataFrame(rows)
    (n_cases, k, sum_iv, total_var, alpha), = _run_oracle("q_cronbach_alpha", frame)
    n = len(grid)
    assert (n_cases, k) == (n, 5)
    cents = [[m * scale * 100 for m in meas] for meas in grid]

    def var(xs: list[int]) -> float:
        return float(n * sum(x * x for x in xs) - sum(xs) ** 2) / (float(n) * (n - 1))

    items = [[row[j] for row in cents] for j in range(5)]
    num_iv = sum(n * sum(x * x for x in it) - sum(it) ** 2 for it in items)
    ref_iv = float(num_iv) / (float(n) * (n - 1))
    ref_tv = var([sum(row) for row in cents])
    if num_iv > 0:
        assert ref_iv >= 1e9
    assert sum_iv == _duckdb_round6(ref_iv)
    assert total_var == _duckdb_round6(ref_tv)
    if ref_tv > 0:
        assert alpha == _duckdb_round6(5 / 4 * (1.0 - ref_iv / ref_tv))
    else:
        assert alpha is None


@settings(max_examples=25, deadline=None)
@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),          # hour
            st.integers(min_value=1, max_value=8).map(lambda b: b * 60.0),
        ),
        min_size=2,
        max_size=60,
    )
)
def test_gk_gamma_oracle_matches_reference(obs):
    rows = [
        {
            "event_type": "click",
            "value": v,
            "event_id": i,
            "user_id": i,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h),
        }
        for i, (h, v) in enumerate(obs)
    ]
    frame = pd.DataFrame(rows)
    (conc, disc, gamma), = _run_oracle("q_gk_gamma", frame)

    def vband(v):
        return 0 if v < 50 else 1 if v < 150 else 2 if v < 300 else 3

    def hband(h):
        return 0 if h < 6 else 1 if h < 12 else 2 if h < 18 else 3

    pts = [(vband(v), hband(h)) for h, v in obs]
    ref_c = ref_d = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            (v1, h1), (v2, h2) = pts[i], pts[j]
            if (v1 - v2) * (h1 - h2) > 0:
                ref_c += 1
            elif (v1 - v2) * (h1 - h2) < 0 and v1 != v2 and h1 != h2:
                ref_d += 1
    assert (conc, disc) == (ref_c, ref_d)
    if ref_c + ref_d:
        assert gamma == pytest.approx((ref_c - ref_d) / (ref_c + ref_d), abs=1e-6)
    else:
        assert gamma is None


def _daily_frame(series):
    return pd.DataFrame(
        [
            {
                "event_type": "click",
                "value": v,
                "event_id": i,
                "user_id": i,
                "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(days=i),
            }
            for i, v in enumerate(series)
        ]
    )


@settings(max_examples=25, deadline=None)
@given(
    series=st.lists(
        st.integers(min_value=1, max_value=400).map(lambda c: c / 2.0),
        min_size=5,
        max_size=50,
    )
)
def test_dickey_fuller_oracle_matches_reference(series):
    out = _run_oracle("q_dickey_fuller", _daily_frame(series))
    y = np.array([round(v * 100) for v in series], dtype=float)
    x = y[:-1]
    dy = np.diff(y)
    nn = len(x)
    sxx = nn * (x * x).sum() - x.sum() ** 2
    if sxx == 0:
        assert out == []
        return
    (n_obs, beta, df_t), = out
    assert n_obs == nn
    sxd = nn * (x * dy).sum() - x.sum() * dy.sum()
    sdd = nn * (dy * dy).sum() - dy.sum() ** 2
    ref_beta = sxd / sxx
    assert beta == pytest.approx(ref_beta, abs=1e-4)
    sse_n = sdd - sxd * sxd / sxx
    if nn > 2 and sse_n > 0:
        ref_t = ref_beta / math.sqrt(sse_n / nn / (nn - 2) * nn / sxx)
        assert df_t == pytest.approx(ref_t, abs=1e-3)
    else:
        assert df_t is None


@settings(max_examples=25, deadline=None)
@given(
    series=st.lists(
        st.integers(min_value=1, max_value=400).map(lambda c: c / 2.0),
        min_size=8,
        max_size=50,
    )
)
def test_pacf_oracle_matches_durbin_levinson(series):
    out = _run_oracle("q_pacf", _daily_frame(series))
    y = np.array([round(v * 100) for v in series], dtype=float)
    nn = len(y)
    ybar = y.mean()
    denom = ((y - ybar) ** 2).sum()
    if denom == 0:
        assert out == []
        return
    r = [((y[k:] - ybar) * (y[:-k] - ybar)).sum() / denom for k in (1, 2, 3, 4)]
    # reference Durbin-Levinson to depth 4
    if abs(r[0]) >= 1:
        assert out == []
        return
    phi = {1: {1: r[0]}}
    v = 1 - r[0] ** 2
    ok = True
    for k in (2, 3, 4):
        num = r[k - 1] - sum(phi[k - 1][j] * r[k - 1 - j] for j in range(1, k))
        if abs(v) < 1e-12:
            ok = False
            break
        pk = num / v
        phi[k] = {k: pk}
        for j in range(1, k):
            phi[k][j] = phi[k - 1][j] - pk * phi[k - 1][k - j]
        v = v * (1 - pk * pk)
    if not out:
        return  # a guard filtered a degenerate denominator — acceptable
    (p1, p2, p3, p4), = out
    assert p1 == pytest.approx(phi[1][1], abs=1e-4)
    if 2 in phi:
        assert p2 == pytest.approx(phi[2][2], abs=1e-4)
    if ok and 3 in phi and p3 is not None:
        assert p3 == pytest.approx(phi[3][3], abs=1e-3)
    if ok and 4 in phi and p4 is not None:
        assert p4 == pytest.approx(phi[4][4], abs=1e-3)


@settings(max_examples=25, deadline=None)
@given(
    edge_set=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=12,
    )
)
def test_assortativity_oracle_matches_reference(edge_set):
    sup, cus, orders, items = [], [], [], []
    for i, (a, b) in enumerate(sorted(edge_set)):
        sup.append({"s_suppkey": i, "s_nationkey": a})
        cus.append({"c_custkey": i, "c_nationkey": b})
        orders.append({"o_orderkey": i, "o_custkey": i})
        items.extend({"l_orderkey": i, "l_suppkey": i} for _ in range(120))
    con = duckdb.connect()
    con.register("supplier", pd.DataFrame(sup))
    con.register("customer", pd.DataFrame(cus))
    con.register("orders", pd.DataFrame(orders))
    con.register("lineitem", pd.DataFrame(items))
    try:
        (n_he, r), = con.execute(q.ORACLES["q_assortativity"]).fetchall()
    finally:
        con.close()
    und = {tuple(sorted(e)) for e in edge_set}
    deg = Counter()
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    pairs = [(deg[a], deg[b]) for a, b in und] + [(deg[b], deg[a]) for a, b in und]
    assert n_he == len(pairs)
    x = np.array([p[0] for p in pairs], dtype=float)
    y = np.array([p[1] for p in pairs], dtype=float)
    if x.std() == 0 or y.std() == 0:
        assert r is None
    else:
        assert r == pytest.approx(np.corrcoef(x, y)[0, 1], abs=1e-4)
