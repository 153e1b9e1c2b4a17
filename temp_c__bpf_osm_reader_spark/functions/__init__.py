"""Pure-numpy kernels (the engine's 'expressions'): codec, geo, hashing.

These are the analogue of the reference decoder's per-row transforms
(readosm.c:209-348 varint/zigzag, 1179-1211 delta+scale, 1296-1299 dict resolve)
— vectorized over Arrow batches instead of per-row C callbacks. No UDF
wrappers live here: operators/ wires these kernels into Spark passes
(geo.latlon_cols is the engine's JVM column-expression form of the geolocate
spec; geo.latlon_from_phash is its numpy test oracle).
"""
