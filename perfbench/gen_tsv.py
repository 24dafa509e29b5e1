"""Seeded generator for the `convert` workload's input.

Writes a tab-separated file in the reference's 17-column shape (header
names and value patterns of FIXTURES.md section 2) plus a JSON sidecar with
the values a correct conversion must produce:

- `rows`: data rows written;
- `failed_cells`: per column, the cells a correct conversion must count as
  parse failures;
- `columns`: per column, the non-null count and a value sum of the typed
  column (see `checksum_term`).

After the first 1,000 data rows (the schema-inference sample), a seeded
share of cells is made dirty with the edge cases of FIXTURES.md section 4:
null tokens (null, not a failure), unparsable and i64-overflowing integers,
`inf` floats and tz-offset timestamps (each a failure that converts to null).

The same (seed, rows, dirty share) always gives byte-identical files.

    gen_tsv.generate(path, seed, rows, dirty_share)
"""

import datetime as dt
import json
import math
import random

INFERENCE_SAMPLE = 1000
EPOCH = dt.date(1970, 1, 1)

# (header, Spark type the reference's inference gives it)
COLUMNS = [
    ("Boolean", "boolean"), ("Int32", "long"), ("Int64", "long"),
    ("UInt32", "long"), ("UInt64", "long"), ("Float16", "double"),
    ("Float32", "double"), ("Float64", "double"), ("Utf8", "string"),
    ("Utf8View", "string"), ("LargeUtf8", "string"), ("Binary", "string"),
    ("Date32", "date"), ("Timestamp(Millisecond, None)", "timestamp_ms"),
    ("Timestamp(Nanosecond, None)", "timestamp_ms"), ("Decimal32", "double"),
    ("Decimal128(38, 10)", "double"),
]
NULL_TOKENS = ["", "NULL", "NaN", "n/a", "none"]
# per column: the failing spellings injected there (null tokens go anywhere)
FAILING = {
    "Int32": ["12x", "--5", "1.2.3"],
    "Int64": ["99999999999999999999", "18446744073709551616"],
    "Float64": ["inf", "-inf"],
    "Timestamp(Millisecond, None)": ["2024-01-01T00:00:00+02:00",
                                     "2023-06-30T08:15:00-05:00"],
}


def _row(rng):
    """One clean row: (text cells, typed values for the checksum)."""
    n = rng.randrange(1_000_000)
    day = EPOCH + dt.timedelta(days=rng.randrange(10_000, 20_000))
    vals = [
        rng.random() < 0.5,
        rng.randrange(100_000),
        n * 1000,
        n,
        n * 10_000,
        n * 0.5,
        round(n * 0.1, 1),
        round(n * 0.0001, 4),
        f"texte_{n}",
        f"vue_{n}",
        f"texte_long_{n}" * 2,
        f"bin_{n}",
        day,
        (day, 123),
        (day, 0),
        round(n / 10, 1),
        round(n / math.pi, 10),
    ]
    cells = [
        "True" if vals[0] else "False",
        str(vals[1]), str(vals[2]), str(vals[3]), str(vals[4]),
        f"{vals[5]:.1f}", f"{vals[6]:.1f}", f"{vals[7]:.4f}",
        vals[8], vals[9], vals[10], vals[11],
        day.isoformat(),
        f"{day.isoformat()}T12:00:00.123",
        f"{day.isoformat()}T00:00:00",
        f"{vals[15]:.1f}", f"{vals[16]:.10f}",
    ]
    # a double's typed value is the parse of its text, not the value it
    # was formatted from
    for j, (_, kind) in enumerate(COLUMNS):
        if kind == "double":
            vals[j] = float(cells[j])
    return cells, vals


def checksum_term(kind, value):
    """The per-cell term of a column's value sum, by Spark type."""
    if kind == "boolean":
        return int(value)
    if kind in ("long", "double"):
        return value
    if kind == "string":
        return len(value)
    if kind == "date":
        return (value - EPOCH).days
    if kind == "timestamp_ms":
        day, millis_of_day = value
        return (day - EPOCH).days * 86_400_000 + (12 * 3_600_000 if millis_of_day else 0) \
            + millis_of_day
    raise ValueError(kind)


def generate(path, seed, rows, dirty):
    rng = random.Random(seed)
    names = [c for c, _ in COLUMNS]
    failed = {c: 0 for c in names}
    nonnull = {c: 0 for c in names}
    sums = {c: 0 for c in names}
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\t".join(names) + "\n")
        for i in range(rows):
            cells, vals = _row(rng)
            for j, (name, kind) in enumerate(COLUMNS):
                if i >= INFERENCE_SAMPLE and rng.random() < dirty:
                    bad = FAILING.get(name, [])
                    if bad and rng.random() < 0.5:
                        cells[j] = rng.choice(bad)
                        failed[name] += 1
                    else:
                        cells[j] = rng.choice(NULL_TOKENS)
                    continue
                nonnull[name] += 1
                sums[name] += checksum_term(kind, vals[j])
            f.write("\t".join(cells) + "\n")
    expect = {
        "rows": rows,
        "failed_cells": failed,
        "columns": {c: {"type": k, "non_null": nonnull[c], "sum": sums[c]}
                    for c, k in COLUMNS},
    }
    with open(path + ".expect.json", "w", encoding="utf-8") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    return expect
