"""Output checks and metric arithmetic for the benchmark.

Pure functions over the harness's result records, so each can be tested
on synthetic inputs (see tests/test_tembench.py). No check depends on
time: an operation fails only when an output is wrong.
"""
import csv
import glob
import hashlib
import math
import os
import statistics

CONSUMER_HEADER = (
    ["id", "dateTime", "Tamb", "TtopTestTankHPCir", "TbottomTestTankHpCir",
     "TtopSourceTank", "TloadTankMix", "TTopTestTankLoadCir", "TloadMix",
     "TbottomSourceTank", "TbottomTestTankLoadCir"]
    + [f"T{i}" for i in range(10)]
    + ["flowHP", "flowLoad", "Load_kW", "Heat_Capacity_kW", "Tem(Avg)"])
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def grouped_median(values):
    """Median of whole-number readings (Spark's progress phases are whole
    ms), interpolated within the median's unit-wide class: for readings
    rounded to integers this estimates the median of the underlying times
    instead of snapping to the nearest integer."""
    s = sorted(values)
    m = statistics.median(s)
    below = sum(1 for v in s if v < m - 0.5)
    inside = sum(1 for v in s if m - 0.5 <= v < m + 0.5)
    if inside == 0 or m != round(m):
        return float(m)
    return (m - 0.5) + (len(s) / 2.0 - below) / inside


# -- sinks of the reference pipeline ---------------------------------------

def check_id_tem(pairs, expected):
    """``pairs`` are the (id, Tem(Avg)) rows read back from a sink;
    ``expected`` maps every generated id to its Tem(Avg). Returns the
    problems found, none when every id arrived exactly once with its
    expected value."""
    problems, seen = [], set()
    for ident, tem in pairs:
        if ident in seen:
            problems.append(f"id {ident} arrived twice")
        seen.add(ident)
        want = expected.get(ident)
        if want is None:
            problems.append(f"unexpected id {ident}")
        elif tem != want:
            problems.append(f"id {ident}: Tem(Avg) {tem!r} != expected {want!r}")
    missing = len(set(expected) - seen)
    if missing:
        problems.append(f"{missing} ids never arrived")
    return problems[:20]


def check_pipe_csv(sink_dir, expected):
    """Check the batch path's pipe-CSV sink directory: every part file has
    the consumer header plus ``Tem(Avg)``, and the rows pass
    :func:`check_id_tem`."""
    pairs, problems = [], []
    parts = sorted(glob.glob(os.path.join(sink_dir, "part-*.csv")))
    if not parts:
        return ["no part files in the sink"]
    for path in parts:
        with open(path, newline="") as f:
            rows = csv.reader(f, delimiter="|")
            header = next(rows, None)
            if header is None:
                continue
            if header != CONSUMER_HEADER:
                problems.append(f"{os.path.basename(path)}: header {header}")
                continue
            for r in rows:
                if len(r) != len(CONSUMER_HEADER):
                    problems.append(f"row with {len(r)} columns")
                    continue
                pairs.append((int(r[0]), float(r[-1])))
    return problems + check_id_tem(pairs, expected)


def check_stream_sink(path, expected):
    """Check a stream sink dump: one ``id,Tem(Avg)`` line per row."""
    pairs = []
    with open(path) as f:
        for line in f:
            if line.strip():
                ident, tem = line.strip().split(",")
                pairs.append((int(ident), float(tem)))
    return check_id_tem(pairs, expected)


def check_sensor_op(op, expected):
    """Every gate of one sensor cycle; returns its problems."""
    n = len(expected)
    bad = []
    if op["produced"] != n:
        bad.append(f"seedProduce counted {op['produced']} rows, generated {n}")
    if op["transport_records"] != n:
        bad.append(f"the transport holds {op['transport_records']} records, generated {n}")
    bad += ["pipe-CSV: " + p for p in check_pipe_csv(op["sink"], expected)]
    bad += ["stream sink: " + p for p in check_stream_sink(op["stream_sink"], expected)]
    return bad


# -- suite outputs ----------------------------------------------------------

def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def row_fingerprint(rows):
    """Order-independent fingerprint of a result: (row count, hash). Each
    row is hashed and the hashes are summed, so a single changed, missing
    or extra row changes it."""
    total = 0
    n = 0
    for r in rows:
        h = hashlib.sha256(repr(tuple(_norm(v) for v in r)).encode()).digest()
        total = (total + int.from_bytes(h[:16], "big")) % (1 << 128)
        n += 1
    return n, total


def sorted_columns(con, sql):
    """Rows of ``sql`` with columns in name order, and those names."""
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rel.fetchall()], [cols[i] for i in order]


def check_suite(tables_dir, outputs, oracle):
    """Compare each entry's written output with DuckDB running its oracle
    SQL over the same tables: the columns, and the fingerprint of the rows.
    ``outputs`` maps entry -> parquet directory. Returns {entry: problem or
    None}."""
    import duckdb
    con = duckdb.connect()
    for path in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    result = {}
    for q, out_dir in sorted(outputs.items()):
        if q not in oracle:
            result[q] = "no oracle SQL"
            continue
        try:
            got, got_cols = sorted_columns(con, f"SELECT * FROM '{out_dir}/*.parquet'")
            want, want_cols = sorted_columns(con, oracle[q])
        except Exception as e:  # a comparison that cannot run is a failed check
            result[q] = f"{type(e).__name__}: {e}"[:300]
            continue
        if got_cols != want_cols:
            result[q] = f"columns {got_cols} != oracle {want_cols}"
        elif row_fingerprint(got) != row_fingerprint(want):
            result[q] = f"rows differ: {len(got)} rows vs oracle {len(want)}"
        else:
            result[q] = None
    return result


def check_suite_op(op, reference, verdict):
    """A pass is correct when every entry's observed output fingerprint
    equals that of the output checked against the oracle, and that check
    passed."""
    bad = []
    for q, fp in sorted(op["fingerprints"].items()):
        if verdict.get(q):
            bad.append(f"{q}: {verdict[q]}")
        elif fp != reference[q]:
            bad.append(f"{q}: output fingerprint {fp} != checked output {reference[q]}")
    return bad


# -- metric arithmetic ------------------------------------------------------

def rows_per_s(ops):
    """Rows completed per second of operation time: sum of rows over sum of
    wall time, over the given (successful) operations."""
    return sum(o["rows"] for o in ops) / sum(o["wall_s"] for o in ops)


def op_p50_s(ops):
    return statistics.median([o["wall_s"] for o in ops])


def thirds(ops):
    """Median op time in the first and last thirds of the window (by
    operation order) and their relative difference, last vs first."""
    n = len(ops)
    k = max(1, n // 3)
    first = statistics.median([o["wall_s"] for o in ops[:k]])
    last = statistics.median([o["wall_s"] for o in ops[-k:]])
    return {"first_third_p50_s": first, "last_third_p50_s": last,
            "drift": (last - first) / first, "ops_per_third": k}


def stream_layers(ops):
    """Streaming per-layer numbers from the traced cycles: batches per
    cycle, the harness-timed chunk round trip, and each progress phase."""
    progress = [p for o in ops for p in o["progress"]]
    out = {"stream.batches": statistics.median([len(o["progress"]) for o in ops]),
           "stream.batch_ms_p50": statistics.median([b for o in ops for b in o["batch_ms"]])}
    for phase in STREAM_PHASES:
        out[f"stream.{phase}_ms_p50"] = grouped_median(
            [p["duration_ms"].get(phase, 0) for p in progress])
    return out


def span_self_times(spans):
    """Self time of each span in seconds, keyed by span id: its duration
    minus the part of its interval covered by its child spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            cs, ce = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if ce <= cs:
                continue
            if cur_e is not None and cs <= cur_e:
                cur_e = max(cur_e, ce)
            else:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def self_time_by_name(spans):
    """Median self time per operation of each span name, in seconds."""
    own = span_self_times(spans)
    per = {}
    for s in spans:
        key = (s["name"], s["op"])
        per[key] = per.get(key, 0.0) + own[s["id"]]
    names = {}
    for (name, _op), v in per.items():
        names.setdefault(name, []).append(v)
    return {name: statistics.median(v) for name, v in sorted(names.items())}
