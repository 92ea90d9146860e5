package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}

/** The `merge_maps` kernel: merge map `right` into map `left`, right
  * winning on key collision — the
  * reference's serde_json insert-overwrite (log-ship/src/plugins/syslog.rs:70-94),
  * executed 2-3 times per syslog row (SD merge + JSON-body merge).
  *
  * Replaces the `map_concat(map_filter(lower, !map_contains_key(upper, k)),
  * upper)` composition: `map_filter` is a higher-order function and therefore
  * CodegenFallback, so that subtree ran INTERPRETED inside the engine's
  * hottest projection, re-evaluating `upper` per lower key (O(k²) with two
  * intermediate map allocations). This kernel is whole-stage-codegen'd
  * and builds the result in one allocation.
  *
  * Key order matches the composition it replaces (surviving left keys in
  * order, then all right keys), so oracle hashes are unchanged.
  */
object MergeMaps {

  /** One-pass merge; small-map (≤ ~16 key) nested scan beats building a
    * hash set — syslog events carry 6-12 keys.
    */
  def merge(lower: MapData, upper: MapData): MapData = {
    val ln = lower.numElements()
    val un = upper.numElements()
    if (ln == 0 && un == 0) return EmptyMap
    val lk = lower.keyArray(); val lv = lower.valueArray()
    val uk = upper.keyArray(); val uv = upper.valueArray()
    val keys = new Array[Any](ln + un)
    val vals = new Array[Any](ln + un)
    var cnt = 0
    var i = 0
    while (i < ln) {
      val k = lk.getUTF8String(i)
      var found = false
      var j = 0
      while (j < un && !found) {
        if (k.equals(uk.getUTF8String(j))) found = true
        j += 1
      }
      if (!found) {
        keys(cnt) = k
        vals(cnt) = if (lv.isNullAt(i)) null else lv.getUTF8String(i)
        cnt += 1
      }
      i += 1
    }
    var j = 0
    while (j < un) {
      keys(cnt) = uk.getUTF8String(j)
      vals(cnt) = if (uv.isNullAt(j)) null else uv.getUTF8String(j)
      cnt += 1
      j += 1
    }
    if (cnt == keys.length) {
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
    } else {
      val k2 = new Array[Any](cnt); val v2 = new Array[Any](cnt)
      System.arraycopy(keys, 0, k2, 0, cnt)
      System.arraycopy(vals, 0, v2, 0, cnt)
      new ArrayBasedMapData(new GenericArrayData(k2), new GenericArrayData(v2))
    }
  }

  private val EmptyMap: MapData =
    new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
      new GenericArrayData(Array.empty[Any]))
}

/** The `logfmt_merge_field` kernel: the full logfmt TRANSFORM
  * (log-ship/src/plugins/logfmt.rs:75-95) on one event map. Read string
  * key `field`; an absent or null value returns the event unchanged.
  * Otherwise pop `field`, logfmt-parse its value and merge the pairs in;
  * with overwrite=false an incoming key that collides with the EVOLVING map
  * (surviving event keys plus already-inserted parsed keys, matching the
  * reference's sequential `contains_key` check) is renamed
  * `"<field>.<key>"`, and a (possibly renamed) key that still collides
  * overwrites (serde_json insert — last write wins).
  *
  * Replaces the `map_filter` (pop) + `transform_keys` (rename) + `when`
  * composition: both HOFs are CodegenFallback, and a single fallback
  * expression excludes its WHOLE operator from whole-stage codegen — the
  * exact hazard class that cost the round-2 parse stage 3-5x.
  *
  * Deviation from the composition (not the reference): two parsed keys that
  * rename to the SAME final key resolve last-wins here, where
  * `transform_keys` throws DUPLICATED_MAP_KEY under Spark's default dedup
  * policy; last-wins matches the reference's sequential insert loop.
  */
object MergeFieldMaps {

  import org.apache.spark.unsafe.types.UTF8String

  private val Dot = UTF8String.fromString(".")

  def mergeField(fields: MapData, field: UTF8String, overwrite: Boolean): MapData = {
    val n = fields.numElements()
    val fk = fields.keyArray()
    var i = 0
    while (i < n && !fk.getUTF8String(i).equals(field)) i += 1
    val fv = fields.valueArray()
    if (i == n || fv.isNullAt(i)) fields
    else merge(fields, LogfmtParse.logfmt(fv.getUTF8String(i)), field,
      UTF8String.concat(field, Dot), overwrite)
  }

  /** Pop `field` from `fields`, rename colliding parsed keys (unless
    * overwrite), merge last-write-wins. Small-map nested scans, same
    * rationale as [[MergeMaps.merge]].
    */
  def merge(fields: MapData, parsed: MapData, field: UTF8String,
      prefix: UTF8String, overwrite: Boolean): MapData = {
    val fn = fields.numElements()
    val pn = parsed.numElements()
    val fk = fields.keyArray(); val fv = fields.valueArray()
    val pk = parsed.keyArray(); val pv = parsed.valueArray()

    // does the popped event map (fields minus `field`) contain key k?
    def survivorHas(k: UTF8String): Boolean = {
      var i = 0
      while (i < fn) {
        val ek = fk.getUTF8String(i)
        if (!ek.equals(field) && ek.equals(k)) return true
        i += 1
      }
      false
    }

    // final (possibly renamed) key of every parsed entry. The reference's
    // collision check runs against the EVOLVING map (logfmt.rs:
    // json.contains_key inside the sequential insert loop), so a parsed
    // key can also collide with an EARLIER parsed key's renamed form (a
    // literal "field.k" arriving after "k" was renamed) — check the keys
    // finalized so far too. Rename is single-level (the reference inserts
    // under "<field>.<key>" unconditionally, overwriting on a re-collision),
    // which the last-wins pass below reproduces.
    val rk = new Array[UTF8String](pn)
    var j = 0
    while (j < pn) {
      val k = pk.getUTF8String(j)
      def earlierRenamed: Boolean = {
        var x = 0
        while (x < j) {
          if (rk(x).equals(k)) return true
          x += 1
        }
        false
      }
      rk(j) = if (!overwrite && (survivorHas(k) || earlierRenamed))
        UTF8String.concat(prefix, k) else k
      j += 1
    }

    val keys = new Array[Any](fn + pn)
    val vals = new Array[Any](fn + pn)
    var cnt = 0
    // surviving event keys not overwritten by a final parsed key
    var i = 0
    while (i < fn) {
      val ek = fk.getUTF8String(i)
      if (!ek.equals(field)) {
        var hit = false
        var x = 0
        while (x < pn && !hit) {
          if (rk(x).equals(ek)) hit = true
          x += 1
        }
        if (!hit) {
          keys(cnt) = ek
          vals(cnt) = if (fv.isNullAt(i)) null else fv.getUTF8String(i)
          cnt += 1
        }
      }
      i += 1
    }
    // parsed entries under their final keys; intra-parsed collisions after
    // rename resolve last-wins (sequential insert semantics)
    j = 0
    while (j < pn) {
      var laterDup = false
      var x = j + 1
      while (x < pn && !laterDup) {
        if (rk(x).equals(rk(j))) laterDup = true
        x += 1
      }
      if (!laterDup) {
        keys(cnt) = rk(j)
        vals(cnt) = if (pv.isNullAt(j)) null else pv.getUTF8String(j)
        cnt += 1
      }
      j += 1
    }
    if (cnt == keys.length) {
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
    } else {
      val k2 = new Array[Any](cnt); val v2 = new Array[Any](cnt)
      System.arraycopy(keys, 0, k2, 0, cnt)
      System.arraycopy(vals, 0, v2, 0, cnt)
      new ArrayBasedMapData(new GenericArrayData(k2), new GenericArrayData(v2))
    }
  }
}
