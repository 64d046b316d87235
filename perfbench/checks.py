"""Output checks: each returns a list of failure messages, empty when
the output is correct. They take plain pandas frames so the self-test
(``perfbench/selftest.py``) can feed them perturbed copies."""

from __future__ import annotations

import numpy as np
import pandas as pd

from proxyfeatureextraction_spark import schema as S

ATOL = 1e-5  # the oracles' own tolerance (tests/test_features_parity.py)
# Folders 0-3 hold conversations 0-199: the K-1/K/K+1 boundary
# conversations for K in {20, 50} (0-5) and the heavy hitters (from 6).
CHECK_FOLDERS = ("folder_0", "folder_1", "folder_2", "folder_3")


def _compare(out: pd.DataFrame, oracle: pd.DataFrame, family: str, convs) -> list[str]:
    """Oracle rows must match at ATOL (NaN equal to NaN); conversations
    of ``convs`` the oracle leaves out must carry NULL for the family."""
    oracle = oracle.rename(columns={"conn": S.CONV}).set_index(S.CONV)
    cols = list(oracle.columns)
    missing = sorted(set(cols) - set(out.columns))
    if missing:
        return [f"{family}: output lacks {missing[:3]}"]
    absent = sorted(set(oracle.index) - set(out.index))
    if absent:
        return [f"{family}: {len(absent)} conversations missing from output"]
    errs = []
    got = out.loc[oracle.index, cols].to_numpy(dtype=float)
    want = oracle[cols].to_numpy(dtype=float)
    bad = ~np.isclose(got, want, atol=ATOL, rtol=0.0, equal_nan=True)
    if bad.any():
        r, c = np.argwhere(bad)[0]
        errs.append(
            f"{family}: {int(bad.sum())} values off, first {oracle.index[r]}.{cols[c]}: "
            f"{got[r, c]!r} != {want[r, c]!r}"
        )
    rest = sorted((set(convs) - set(oracle.index)) & set(out.index))
    if rest and out.loc[rest, cols].notna().any().any():
        errs.append(f"{family}: conversations outside the oracle carry values")
    return errs


def check_extract(out: pd.DataFrame, transcripts: pd.DataFrame) -> list[str]:
    """Whole folders of ``extract_features``' output against the
    ``tests/oracle`` references, with the full table as the gateway."""
    from tests.oracle.packet_view import to_packet_view
    from tests.oracle.ref_corr import corr_by_conn
    from tests.oracle.ref_hayes import hayes_by_conn
    from tests.oracle.ref_host import host_by_conn
    from tests.oracle.ref_rtt import rtt_by_conn
    from tests.oracle.ref_slt import slt_by_conn

    errs = []
    n_convs = transcripts[S.CONV].nunique()
    if len(out) != n_convs or out[S.CONV].nunique() != n_convs:
        errs.append(f"extract: {len(out)} rows for {n_convs} conversations")
    out = out.drop_duplicates(S.CONV).set_index(S.CONV)
    packets = to_packet_view(transcripts)
    sub = packets[packets["folder_name"].isin(CHECK_FOLDERS)]
    convs = sorted(sub["conn"].unique())
    gateway = packets[["ts_relative", "pkt_len"]]
    errs += _compare(out, hayes_by_conn(sub, 20), "hayes", convs)
    errs += _compare(out, slt_by_conn(sub, 20), "slt", convs)
    errs += _compare(out, rtt_by_conn(sub, 20), "rtt", convs)
    host = pd.concat(
        [host_by_conn(g, gw=False) for _, g in sub.groupby("folder_name")],
        ignore_index=True,
    )
    errs += _compare(out, host, "host", convs)
    errs += _compare(out, corr_by_conn(sub, gateway, pkt_limit=20), "corr", convs)
    return errs


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame, keys: list[str], label: str) -> list[str]:
    if list(sorted(a.columns)) != list(sorted(b.columns)):
        return [f"{label}: columns differ"]
    if len(a) != len(b):
        return [f"{label}: {len(a)} rows != {len(b)}"]
    a = a.sort_values(keys, kind="stable").reset_index(drop=True)
    b = b.sort_values(keys, kind="stable").reset_index(drop=True)[a.columns]
    errs = []
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_numeric_dtype(x) and pd.api.types.is_numeric_dtype(y):
            ok = np.isclose(x.to_numpy(float), y.to_numpy(float), atol=1e-9, equal_nan=True)
        else:
            ok = x.astype(str).to_numpy() == y.astype(str).to_numpy()
        if not ok.all():
            errs.append(f"{label}: {int((~ok).sum())} rows differ in {c}")
    return errs


def check_pit(
    full: pd.DataFrame,
    plain: pd.DataFrame,
    truncated: pd.DataFrame,
    cutoff: pd.Timestamp,
    routed: set[str],
    over_threshold: set[str],
    heavy: set[str],
) -> list[str]:
    """``pit_features_auto`` equals ``pit_features``; the output of the
    input truncated at ``ts <= cutoff`` equals the full output restricted
    to ``ts <= cutoff`` (zero leakage); the router sent exactly the
    conversations over the threshold down the blocked path, and those
    are heavy hitters."""
    keys = [S.CONV, S.TURN]
    errs = _frames_equal(full, plain, keys, "pit auto vs plain")
    early = full[full[S.TS] <= cutoff]
    errs += _frames_equal(early, truncated, keys, "pit leakage")
    if routed != over_threshold or not routed <= heavy:
        errs.append(
            f"pit: blocked path took {sorted(routed)}, expected {sorted(over_threshold)} "
            f"(heavy hitters {sorted(heavy)})"
        )
    return errs


def check_curate(out: pd.DataFrame, docs: pd.DataFrame) -> list[str]:
    """``curate_corpus`` against its DuckDB oracle from ``__spark_entry__``."""
    import duckdb

    import __spark_entry__ as E
    from tools.check_entry import compare_frames

    con = duckdb.connect()
    try:
        con.register("documents", docs)
        ref = con.execute(E.oracle_sql()["curate_corpus"]).df()
    finally:
        con.close()
    return [f"curate: {e}" for e in compare_frames("curate_corpus", out, ref)]
