"""Output checks: order-independent result fingerprints for batch queries
and the per-batch changelog check for the streams."""
import datetime
import decimal
import hashlib
import json
import math
import os


def _render(v):
    if v is None:
        return "<NA>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (int, decimal.Decimal, str, datetime.date, datetime.datetime)):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_render(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    return str(v)


def fingerprint(table):
    """sha256 over the sorted column names and the sorted rendered rows of a
    pyarrow table. Floats render exactly, so a float result only matches a
    float result; int widths do not matter."""
    cols = sorted(table.column_names)
    data = table.select(cols).to_pydict()
    rows = sorted(zip(*[[_render(v) for v in data[c]] for c in cols])) if cols else []
    h = hashlib.sha256(json.dumps([cols, rows]).encode())
    return h.hexdigest(), len(rows)


def spark_result_fingerprint(path):
    import pyarrow.parquet as pq
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    tables = [pq.read_table(os.path.join(path, f)) for f in parts]
    import pyarrow as pa
    return fingerprint(pa.concat_tables(tables) if tables else pa.table({}))


def changelog_batches(sink_dir):
    """{batch_id: {category: (hotels_amount, distinct_hotels)}} as the sink
    wrote them (one toJsonPayload line per updated category)."""
    out = {}
    for f in os.listdir(sink_dir):
        if not f.endswith(".json"):
            continue
        rows = {}
        with open(os.path.join(sink_dir, f)) as fh:
            for line in fh:
                if line.strip():
                    r = json.loads(line)
                    rows[r["stay_category"]] = (r["hotels_amount"], r["distinct_hotels"])
        out[int(f[:-5])] = rows
    return out


def source_log(ckpt):
    """{batch_id: [file names]} from the file source's metadata log,
    including compacted entries."""
    d = os.path.join(ckpt, "sources", "0")
    out = {}
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    return {b: sorted(v) for b, v in out.items()}
