"""XML dual-source — the v.1 reference library's second input format.

The reference's v.1 readosm parsed both `.osm` XML (expat SAX,
v.1/copies/readosm/src/osmxml.c:459-522) and `.osm.pbf`, and its golden test
was decode equivalence between the two formats over the same entities
(SURVEY §5.2). This module resurrects that capability Spark-first:

  * `write_osm_xml` emits the SAME logical entities as the blocks fixture
    (sources/blocks.py) as standard-shaped `.osm` files, sharded like PBF
    blocks (one file per 1000 entities);
  * `spark.read.format("osmxml")` (sources/osm_datasource.py) parses them
    distributedly, one shard file per partition (files are the parallel
    unit, exactly as PBF blocks are);
  * cross-format equivalence `decode(xml) == decode(blocks)` is a driver-
    checked oracle query (api.py: `xml_nodes`, `xml_tags` — DuckDB decodes
    the blocks while Spark parses the XML).

Coordinates are written with 7 decimals (the PBF fixed-point 1e-7 scale,
readosm.c:1206) and re-scaled through the identical int/1e7 arithmetic, so
the doubles are bit-equal across formats.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from ..functions.geo import latlon_from_phash
from . import fixtures
from .blocks import BLOCK_SZ, SCALE, caption_tags


def write_osm_xml(images: pd.DataFrame, out_dir: str, per_file: int = BLOCK_SZ) -> str:
    """images table → sharded .osm files with the blocks fixture's entities.

    Attribute values are quoteattr-escaped (captions carry non-ASCII and may
    carry &/</\") and files are written as UTF-8 explicitly — the declared
    encoding must not depend on the process locale."""
    from xml.sax.saxutils import quoteattr

    os.makedirs(out_dir, exist_ok=True)
    n = len(images)
    lat, lon = latlon_from_phash(images["phash"].to_numpy(), images["image_id"].to_numpy())
    lat_i = np.round(lat * SCALE).astype(np.int64)
    lon_i = np.round(lon * SCALE).astype(np.int64)
    ids = images["image_id"].to_numpy()
    caps = images["caption"].to_numpy()
    for b0 in range(0, n, per_file):
        b1 = min(b0 + per_file, n)
        parts = ['<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n']
        for i in range(b0, b1):
            parts.append(
                f'  <node id="{i}" lat="{lat_i[i] / SCALE:.7f}" '
                f'lon="{lon_i[i] / SCALE:.7f}" user={quoteattr(str(ids[i]))}>\n'
            )
            for k, v in caption_tags(caps[i]):
                parts.append(f"    <tag k={quoteattr(k)} v={quoteattr(v)}/>\n")
            parts.append("  </node>\n")
        parts.append("</osm>\n")
        with open(
            os.path.join(out_dir, f"part-{b0 // per_file:05d}.osm"), "w", encoding="utf-8"
        ) as f:
            f.write("".join(parts))
    return out_dir


def ensure_xml(n: int) -> str:
    out_dir = os.path.join(fixtures.DATA_DIR, f"xml_{n}_{fixtures.GEO_TAG}")
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        images = pd.read_parquet(fixtures.ensure_images(n))
        write_osm_xml(images, out_dir)
        open(done, "w").close()
    return out_dir
