#!/usr/bin/env python3
"""Write the binary parquet fixtures the specs read.

src/test/resources/reference/ holds the files ReferenceParitySpec and
ReferenceParitySpec5 read: shape-equivalent stand-ins for the nested-pandas
test fixtures of the same names, with the same arrow encodings, column
names and row counts the specs assert on, and small deterministic values.

src/test/resources/schema_pick/ holds the inputs of ParquetReadSpec, where
the schema a reader infers depends on which footer it picks:
  summary/    a `_common_metadata` and a `_metadata` whose schemas differ
              from each other and from the data footers
  diverging/  data files whose footers differ, next to hidden files
  types/      INT96, plain binary, TIMESTAMP(NANOS) and timezone-free
              TIMESTAMP(MICROS) columns

Written with pyarrow (16.1), so the files carry arrow's own parquet
encodings (struct-of-list, list<list<struct>>, fixed_size_list), not
Spark's.

    python3 tools/gen_reference_fixtures.py

Re-running rewrites the same files.
"""
import math
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

RESOURCES = Path(__file__).resolve().parent.parent / "src/test/resources"
OUT = RESOURCES / "reference"
PICK = RESOURCES / "schema_pick"


def write(table: pa.Table, rel: str, out: Path = OUT, **opts) -> None:
    path = out / rel
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy", **opts)
    print(f"{path.relative_to(RESOURCES)}: {table.num_rows} rows, "
          f"{table.num_columns} columns, {path.stat().st_size} bytes")


def write_schema(schema: pa.Schema, rel: str) -> None:
    """A footer-only summary file, as `pq.write_metadata` writes it."""
    path = PICK / rel
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_metadata(schema, path)
    print(f"{path.relative_to(RESOURCES)}: schema {schema.names}, "
          f"{path.stat().st_size} bytes")


def nested() -> pa.Table:
    """Two nestable struct-of-list columns, `nested` and `lincc`."""
    rows = 5
    n = [3, 1, 4, 2, 3]
    t = [[float(r * 10 + i) for i in range(n[r])] for r in range(rows)]
    flux = [[float((r * 7 + i * 3) % 20) for i in range(n[r])]
            for r in range(rows)]
    band = [["g" if (r + i) % 2 else "r" for i in range(n[r])]
            for r in range(rows)]
    lincc_band = [["g", "r"] for _ in range(rows)]
    frameworks = [["nested-pandas", "hats"] for _ in range(rows)]
    return pa.table({
        "a": pa.array([0.5 * r for r in range(rows)], pa.float64()),
        "flux": pa.array([float(r * r) for r in range(rows)], pa.float64()),
        "nested": pa.StructArray.from_arrays(
            [pa.array(t, pa.list_(pa.float64())),
             pa.array(flux, pa.list_(pa.float64())),
             pa.array(band, pa.list_(pa.string()))],
            ["t", "flux", "band"]),
        "lincc": pa.StructArray.from_arrays(
            [pa.array(lincc_band, pa.list_(pa.string())),
             pa.array(frameworks, pa.list_(pa.string()))],
            ["band", "frameworks"]),
    })


def not_nestable() -> pa.Table:
    """A struct-of-list whose field lists disagree in length on row 1."""
    return pa.table({
        "a": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "nested": pa.StructArray.from_arrays(
            [pa.array([[1.0, 2.0], [3.0, 4.0, 5.0], [6.0]],
                      pa.list_(pa.float64())),
             pa.array([[10.0, 20.0], [30.0], [60.0]],
                      pa.list_(pa.float64()))],
            ["t", "flux"]),
    })


def ztf_lc() -> pa.Table:
    """One row whose struct-of-list `ztf`, with a list<list<struct>> field
    `lc`, is entirely NULL."""
    point = pa.struct([("mjd", pa.float64()), ("mag", pa.float32()),
                       ("magerr", pa.float32())])
    ztf = pa.struct([("oid", pa.list_(pa.int64())),
                     ("filter", pa.list_(pa.string())),
                     ("lc", pa.list_(pa.list_(point)))])
    return pa.table({
        "vsx_oid": pa.array([1048576], pa.int64()),
        "name": pa.array(["V0001 And"], pa.string()),
        "ra": pa.array([10.6847], pa.float64()),
        "dec": pa.array([41.2690], pa.float64()),
        "ztf": pa.array([None], ztf),
    })


def fixed_size_list_struct() -> pa.Table:
    """Fixed-size lists of doubles and of structs, 5 rows."""
    elem = pa.struct([("a", pa.float64()), ("b", pa.int64())])
    rows = range(5)
    return pa.table({
        "id": pa.array(list(rows), pa.int64()),
        "fixed_list": pa.array([[float(r), r + 0.5, r + 1.0] for r in rows],
                               pa.list_(pa.float64(), 3)),
        "fixed_nested": pa.array(
            [[{"a": float(r), "b": 2 * r}, {"a": r + 0.25, "b": 2 * r + 1}]
             for r in rows],
            pa.list_(elem, 2)),
    })


def mmu_desi() -> pa.Table:
    """A 7781-long spectrum as a struct of fixed_size_list leaves, 2 rows,
    17 scalar columns beside it."""
    n = 7781
    rows = 2
    lam = [3600.0 + 0.8 * i for i in range(n)]
    flux = [[round(10.0 * math.sin(i / 50.0 + r), 1) for i in range(n)]
            for r in range(rows)]
    ivar = [[1.0 + (i % 4) * 0.25 for i in range(n)] for _ in range(rows)]
    mask = [[(i + r) % 97 == 0 for i in range(n)] for r in range(rows)]

    def fixed(values, typ):
        return pa.array(values, pa.list_(typ, n))

    spectrum = pa.StructArray.from_arrays(
        [fixed(flux, pa.float32()), fixed(ivar, pa.float32()),
         fixed([lam] * rows, pa.float32()), fixed(mask, pa.bool_())],
        ["flux", "ivar", "lambda", "mask"])
    f = lambda k: pa.array([k + 0.5 * r for r in range(rows)], pa.float32())
    return pa.table({
        "object_id": pa.array(["desi-0", "desi-1"], pa.string()),
        "TARGETID": pa.array([39627, 39628], pa.int64()),
        "HEALPIX": pa.array([5286, 5286], pa.int64()),
        "SURVEY": pa.array(["sv3", "main"], pa.string()),
        "SPECTYPE": pa.array(["GALAXY", "QSO"], pa.string()),
        "Z": f(0.25), "ZERR": f(0.0001), "EBV": f(0.02),
        "FLUX_G": f(1.0), "FLUX_R": f(2.0), "FLUX_Z": f(3.0),
        "FLUX_IVAR_G": f(10.0), "FLUX_IVAR_R": f(11.0), "FLUX_IVAR_Z": f(12.0),
        "FIBERFLUX_G": f(0.5), "FIBERFLUX_R": f(0.75), "FIBERFLUX_Z": f(1.25),
        "spectrum": spectrum,
    })


def ids_and_x(first: int, rows: int) -> pa.Table:
    return pa.table({
        "id": pa.array(range(first, first + rows), pa.int64()),
        "x": pa.array([0.25 * i for i in range(first, first + rows)],
                      pa.float64()),
    })


def summary() -> None:
    """Two data files with (id, x); `_common_metadata` adds `c_only` and
    `_metadata` adds `m_only`. Spark takes `_common_metadata`."""
    write(ids_and_x(0, 3), "summary/part-0.parquet", PICK)
    write(ids_and_x(3, 2), "summary/part-1.parquet", PICK)
    base = ids_and_x(0, 0).schema
    write_schema(base.append(pa.field("c_only", pa.string())),
                 "summary/_common_metadata")
    write_schema(base.append(pa.field("m_only", pa.int32())),
                 "summary/_metadata")


def diverging() -> None:
    """Data files whose footers differ. Spark takes the first by path,
    `a.parquet`; the hidden files sort before it but are never listed."""
    t = ids_and_x(0, 3)
    write(t.append_column("from_a", pa.array(["a0", "a1", "a2"])),
          "diverging/a.parquet", PICK)
    write(t.append_column("from_b", pa.array([1, 2, 3], pa.int32())),
          "diverging/b.parquet", PICK)
    for hidden in ("diverging/.hidden.parquet", "diverging/_hidden.parquet"):
        write(t.append_column("hidden", pa.array([True, False, True])),
              hidden, PICK)


def types() -> None:
    """Columns whose Spark type depends on the session's parquet flags."""
    us = [0, 1_600_000_000_123_456, -86_400_000_000]
    raw = pa.array([b"\x00\xff", b"abc", None], pa.binary())
    write(pa.table({
        "id": pa.array([0, 1, 2], pa.int64()),
        "ts96": pa.array(us, pa.timestamp("us", tz="UTC")),
        "raw": raw,
    }), "types/int96.parquet", PICK, use_deprecated_int96_timestamps=True)
    write(pa.table({
        "id": pa.array([0, 1, 2], pa.int64()),
        "ts_ns": pa.array([u * 1000 + 789 for u in us],
                          pa.timestamp("ns", tz="UTC")),
    }), "types/nanos.parquet", PICK)
    write(pa.table({
        "id": pa.array([0, 1, 2], pa.int64()),
        "ts_local": pa.array(us, pa.timestamp("us")),
        "ts_utc": pa.array(us, pa.timestamp("us", tz="UTC")),
        "raw": raw,
    }), "types/micros.parquet", PICK)


def main() -> None:
    write(nested(), "test_data/nested.parquet")
    write(not_nestable(), "test_data/not_nestable.parquet")
    write(ztf_lc(), "test_data/vsx-x-ztfdr22_lc-m31.parquet")
    write(fixed_size_list_struct(),
          "fixed_size_list_data/fixed-size-list-struct.parquet")
    write(mmu_desi(), "fixed_size_list_data/mmu-desi.parquet")
    summary()
    diverging()
    types()


if __name__ == "__main__":
    main()
