"""KITTI-format sources (SURVEY.md §2.1 S1-S4).

The reference aligns three directories by sorted file position
(data_utils.py:4-8 + zip at data_pipeline.py:18); here the frame id
is extracted from the file name and used as an explicit join key —
robust to missing files and the natural distribution key (SURVEY
§7.4: the keyed join is a documented, deliberate deviation).

Scale notes: `binaryFile` + `pathGlobFilter` keeps the directory
listing on the driver cheap and the decode fully parallel (one task
per file group). At 100 TB the one-time Parquet pre-conversion
(`points_to_parquet` in kittispark.sinks) is the canonical layout —
columnar, predicate-pushdown, partitioned by frame — and every
operator downstream is source-agnostic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kittispark.operators.util import sql_string

_FRAME_FROM_PATH = r"([^/]+)\.[a-z]+$"

POINTS_SCHEMA = T.StructType(
    [
        T.StructField("frame_id", T.StringType(), False),
        T.StructField("x", T.DoubleType(), False),
        T.StructField("y", T.DoubleType(), False),
        T.StructField("z", T.DoubleType(), False),
        T.StructField("intensity", T.DoubleType(), False),
    ]
)


def frame_id_col(path_col: str = "path") -> F.Column:
    return F.regexp_extract(F.col(path_col), _FRAME_FROM_PATH, 1)


def read_points(spark: SparkSession, pocl_dir: str) -> DataFrame:
    """S2: KITTI .bin point clouds -> rows (frame_id, x, y, z,
    intensity).

    Decode mirrors np.fromfile(dtype=float32).reshape(-1, 4)
    (reference data_utils.py:11-14) inside an Arrow-batched
    mapInPandas kernel — the 1->N UDTF shape of SURVEY §2.8. Values
    are widened to double for computation; float32 is restored only
    at the .bin sink boundary (SURVEY §7.4 float policy)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(pocl_dir)
        .select(frame_id_col().alias("frame_id"), "content")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            frames, mats = [], []
            for fid, blob in zip(pdf["frame_id"], pdf["content"]):
                if len(blob) % 16:
                    raise ValueError(
                        f"corrupt .bin for frame {fid!r}: {len(blob)} bytes "
                        "is not a multiple of 16 (4 x float32 per point)"
                    )
                arr = np.frombuffer(blob, dtype="<f4").reshape(-1, 4).astype("f8")
                frames.append(np.repeat(fid, arr.shape[0]))
                mats.append(arr)
            if not mats:
                yield pd.DataFrame(
                    {c: [] for c in ("frame_id", "x", "y", "z", "intensity")}
                )
                continue
            all_pts = np.vstack(mats)
            yield pd.DataFrame(
                {
                    "frame_id": np.concatenate(frames),
                    "x": all_pts[:, 0],
                    "y": all_pts[:, 1],
                    "z": all_pts[:, 2],
                    "intensity": all_pts[:, 3],
                }
            )

    return files.mapInPandas(decode, POINTS_SCHEMA)


_FRAME_ID_FROM_FILE_SQL = (
    f"regexp_extract(input_file_name(), {sql_string(_FRAME_FROM_PATH)}, 1)"
)


def frame_id_from_file():
    """Frame id extracted from input_file_name() — THE join-key
    convention every file-backed source shares (see frame_id_col for
    the path-column variant)."""
    return F.expr(_FRAME_ID_FROM_FILE_SQL)


# read_labels' projections as SQL text (one parse each per call; see
# kittispark.operators.util). Trim before the split: Python
# str.split() (the reference semantics) ignores leading whitespace,
# but split(\s+) on an untrimmed line yields a leading "" that
# silently shifts all 15 fields by one.
_LABEL_LINE_SQL = (
    f"{_FRAME_ID_FROM_FILE_SQL} AS frame_id",
    "split(trim(value), " + sql_string(r"\s+") + ") AS f",
)
_LABEL_FIELDS_SQL = (
    "frame_id",
    "element_at(f, 1) AS label",
    "CAST(element_at(f, 2) AS DOUBLE) AS truncated",
    "CAST(element_at(f, 3) AS INT) AS occluded",
    "CAST(element_at(f, 4) AS DOUBLE) AS alpha",
    "array("
    + ", ".join(f"CAST(element_at(f, {i}) AS DOUBLE)" for i in (5, 6, 7, 8))
    + ") AS bbox",
    *(
        f"CAST(element_at(f, {i}) AS DOUBLE) AS {name}"
        for i, name in enumerate(
            ("dim_h", "dim_w", "dim_l", "loc_x", "loc_y", "loc_z", "rotation_y"), 9
        )
    ),
)


def read_labels(spark: SparkSession, label_dir: str) -> DataFrame:
    """S3: whitespace-delimited 15-field KITTI label lines -> typed
    rows (reference data_utils.py:17-33). Pure text scan + positional
    split/cast — no Python in the path."""
    return (
        spark.read.option("pathGlobFilter", "*.txt")
        .text(label_dir)
        .selectExpr(*_LABEL_LINE_SQL)
        .filter("size(f) >= 15")
        .selectExpr(*_LABEL_FIELDS_SQL)
    )


def read_calib(spark: SparkSession, calib_dir: str) -> DataFrame:
    """S4: `key: v v v ...` calibration lines -> tall
    (frame_id, key, values array<double>); lines without ':' skipped
    (reference data_utils.py:44-50). Matrix reshape happens at use
    site (operators.kitti.calib_matrices) — the tall table is the
    storage form, the wide broadcast row is the join form."""
    parts = F.split("value", ":", 2)
    # F.get (null-tolerant, 0-based) instead of [..]: ANSI mode makes
    # [1] throw on colon-less lines — codegen hoists the shared split
    # subexpression and evaluates it before the contains() predicate
    # can short-circuit.
    return (
        spark.read.option("pathGlobFilter", "*.txt")
        .text(calib_dir)
        .select(
            frame_id_from_file().alias("frame_id"),
            F.trim(F.get(parts, 0)).alias("key"),
            F.transform(
                F.split(F.trim(F.get(parts, 1)), r"\s+"),
                lambda v: v.cast("double"),
            ).alias("values"),
        )
        .filter(F.col("values").isNotNull())
    )
