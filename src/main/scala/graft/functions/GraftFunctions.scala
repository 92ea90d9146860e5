package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CurrentTimeZone, Expression, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{call_function, current_timezone, lit, typedlit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Session-scoped registration of graft's custom Catalyst expressions plus
  * Column-level wrappers. Registration is idempotent; every query builder
  * calls [[ensureRegistered]] before using the wrappers so the functions
  * are also reachable from `spark.sql(...)`.
  */
object GraftFunctions {

  private def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    kernel("logfmt_parse", "LogfmtParse.logfmt", StringType)(_ => StringMap),
    kernel("logfmt_parse_fortinet", "LogfmtParse.fortinet", StringType)(
      _ => MapType(StringType, StringType, valueContainsNull = false)),
    kernel("logfmt_parse_sd", "LogfmtParse.structuredData", StringType)(
      _ => MapType(StringType, StringType, valueContainsNull = false)),
    "regexp_groups" -> ((exprs: Seq[Expression]) => RegexpGroups(exprs(0),
      exprs(1).eval().toString)),
    "compact_map" -> ((exprs: Seq[Expression]) => CompactMap(exprs)),
    // the pipeline write's delivery count, under an internal name: its
    // n_conv needs the write's sorted, conversation-keyed input
    DeliveryCube.InternalName -> ((e: Seq[Expression]) =>
      DeliveryCube(e(0), e(1), e(2), e(3), e(4))),
    // centroid table arrives as a foldable array<array<float>> literal and
    // is baked into the expression at build time
    "nearest_cell" -> ((exprs: Seq[Expression]) => {
      val ad = exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val cents = Array.tabulate(ad.numElements()) { i =>
        if (ad.isNullAt(i)) null
        else {
          val inner = ad.getArray(i)
          Array.tabulate(inner.numElements())(j => inner.getFloat(j))
        }
      }
      NearestCell(exprs(0), cents)
    }),
    kernel("cosine_sim", "CosineSim.cosine", Floats, Floats)(_ => DoubleType),
    kernel("fingerprint64", "Fingerprint64.hash64", StringType)(_ => LongType),
    kernel("minhash_sig", "MinHashSig.sig", Strings, IntegerType)(
      _ => Signature, args = withInt),
    kernel("simhash64", "SimHash64.simhash", Strings, LongType)(
      _ => LongType, args = e => Seq(e(0), longParam(e(1)))),
    kernel("simhash_multi", "SimHashMulti.sigs", Strings, IntegerType)(
      _ => Signature, args = withInt),
    kernel("rp_sign", "RpSign.sign", Floats, IntegerType, LongType)(
      _ => LongType, args = e => Seq(e(0), intParam(e(1)), longParam(e(2)))),
    kernel("word_shingles", "WordShingles.shingles", Strings, IntegerType)(
      _ => ArrayType(StringType, containsNull = false),
      args = withInt),
    // the pair kernels pass elements through, so the output's containsNull
    // follows the input's: declaring null-free elements over a nullable
    // input would let codegen elide null checks downstream and NPE
    kernel("word_pairs", "WordPairs.pairs", Strings)(
      c => ArrayType(StringType, elementsMayBeNull(c(0)))),
    kernel("bpe_merge", "BpeMerge.merge", Strings, StringType, StringType)(
      c => ArrayType(StringType, elementsMayBeNull(c(0))),
      args = e => Seq(e(0), stringParam(e(1)), stringParam(e(2)))),
    kernel("lumberjack_encode", "LumberjackCodec.encode", Strings)(_ => BinaryType),
    kernel("lumberjack_decode", "LumberjackCodec.decode", BinaryType)(
      _ => ArrayType(StructType(Seq(
        StructField("seq", IntegerType, nullable = false),
        StructField("payload", StringType, nullable = false))), containsNull = false),
      mayReturnNull = true),
    kernel("merge_maps", "MergeMaps.merge", StringMap, StringMap)(
      c => MapType(StringType, StringType, c.exists(_.dataType match {
        case MapType(_, _, n) => n
        case _ => true
      }))),
    kernel("simhash_band_keys", "SimHashBandKeys.keys", Longs, IntegerType)(
      _ => Signature, args = withInt),
    kernel("simhash_probe_keys", "SimHashProbeKeys.keys", Longs, IntegerType)(
      _ => Signature, args = withInt),
    kernel("minhash_band_keys", "MinHashBandKeys.keys", Longs, IntegerType)(
      _ => Signature, args = withInt),
    kernel("hamming_total", "HammingTotal.dist", Signature, Signature)(_ => IntegerType),
    kernel("match_count", "MatchCount.count", Signature, Signature)(_ => IntegerType),
    kernel("json_flat_map", "JsonFlatMap.parse", StringType)(
      _ => MapType(StringType, StringType, valueContainsNull = true),
      mayReturnNull = true),
    kernel("rp_project", "RpProject.project", Floats, IntegerType, LongType)(
      _ => ArrayType(FloatType, containsNull = false),
      args = e => Seq(e(0), intParam(e(1)), longParam(e(2)))),
    kernel("event_json", "EventJson.serialize", StringMap)(_ => StringType),
    kernel("logfmt_merge_field", "MergeFieldMaps.mergeField",
      StringMap, StringType, BooleanType)(_ => StringMap,
      args = e => Seq(e(0), stringParam(e(1)), boolParam(e(2)))),
    // the dictionary's per-format field kernels (ParseFields): a group
    // array in, the format's fields map out; `year` is the run clock's
    // year in the session time zone
    kernel("fortinet_fields", "ParseFields.fortinet",
      StringType, Strings, Strings, StringType, LongType)(_ => CompactFields,
      args = e => Seq(e(0), e(1), e(2), zoneParam(e(3)), longParam(e(4)))),
    kernel("syslog3164_fields", "ParseFields.syslog3164",
      Strings, StringType, StringType, LongType)(_ => StringMap,
      args = e => Seq(e(0), e(1), zoneParam(e(2)), longParam(e(3)))),
    kernel("syslog5424_fields", "ParseFields.syslog5424", Strings, LongType)(
      _ => StringMap, args = e => Seq(e(0), longParam(e(1)))),
    kernel("combined_fields", "ParseFields.combined", Strings)(_ => CompactFields),
    kernel("error_fields", "ParseFields.error", Strings, StringType)(_ => CompactFields,
      args = e => Seq(e(0), zoneParam(e(1)))),
    kernel("kern_fields", "ParseFields.kern", Strings, StringType, StringType)(
      _ => CompactFields, args = e => Seq(e(0), e(1), zoneParam(e(2)))),
    kernel("mini_fields", "ParseFields.mini", Strings)(_ => CompactFields),
    kernel("format_spec_fields", "ParseFields.spec", Strings, Strings,
      ArrayType(IntegerType), ArrayType(BooleanType), IntegerType, StringType,
      BooleanType, BooleanType, StringType, LongType)(_ => CompactFields,
      args = e => e.take(4) ++ Seq(intParam(e(4)), stringParam(e(5)),
        boolParam(e(6)), boolParam(e(7)), zoneParam(e(8)), longParam(e(9)))),
    kernel("transcript_line", "TranscriptText.line", IntegerType, LongType, LongType,
      StringType, DoubleType, TimestampType, IntegerType, StringType)(_ => StringType,
      mayReturnNull = true, args = e => e.take(7) :+ zoneParam(e(7)))
  )

  // Declared argument types of the kernel calls. Element nullability is
  // free except where containsNull = false is declared (see KernelCall).
  private val Strings = ArrayType(StringType)
  private val Floats = ArrayType(FloatType)
  private val Longs = ArrayType(LongType)
  private val Signature = ArrayType(LongType, containsNull = false)
  private val StringMap = MapType(StringType, StringType)
  private val CompactFields = MapType(StringType, StringType, valueContainsNull = false)

  /** `name` as one [[KernelCall]] of `graft.functions.<method>`, whose
    * arguments have the declared `inputs` types. `args` maps the call's
    * arguments to the kernel's; `out` gives the result type from those.
    */
  private def kernel(name: String, method: String, inputs: DataType*)(
      out: Seq[Expression] => DataType, mayReturnNull: Boolean = false,
      args: Seq[Expression] => Seq[Expression] = identity) =
    name -> ((exprs: Seq[Expression]) => {
      val children = args(exprs)
      KernelCall(name, Kernel(s"graft.functions.$method", inputs), children,
        out(children), mayReturnNull)
    })

  // Kernel parameters (k, bandBits, seed, the BPE pair, the logfmt field
  // and its overwrite flag, a time zone or run clock) must be foldable;
  // they are evaluated once here and passed on as literals.
  private def intParam(e: Expression) = Literal(e.eval().asInstanceOf[Int])
  private def longParam(e: Expression) = Literal(e.eval() match {
    case i: Int => i.toLong
    case l: Long => l
  })
  private def stringParam(e: Expression) = Literal(e.eval().toString)
  private def boolParam(e: Expression) = Literal(e.eval().asInstanceOf[Boolean])

  /** A time zone parameter as the id Spark's datetime expressions resolve
    * it to. `current_timezone()` (what the Column wrappers pass) is read
    * from the conf of the session analyzing the call, as the optimizer
    * would replace it.
    */
  private def zoneParam(e: Expression) = Literal(DateTimeUtils.getZoneId(e match {
    case _: CurrentTimeZone => SQLConf.get.sessionLocalTimeZone
    case z => z.eval().toString
  }).getId)

  private val withInt = (e: Seq[Expression]) => Seq(e(0), intParam(e(1)))

  private def elementsMayBeNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }

  /** Idempotent AND once-per-session: re-registering on every query call
    * spammed "function X replaced a previously registered function" WARNs
    * into every driver artifact, so sessions that already have the last
    * builder registered are skipped.
    */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    val sentinel = org.apache.spark.sql.catalyst.FunctionIdentifier(builders.last._1)
    if (!reg.functionExists(sentinel)) {
      builders.foreach { case (name, b) =>
        reg.createOrReplaceTempFunction(name, b, "built-in")
      }
    }
  }

  /** Parse a logfmt string column into map<string,string> (null values for
    * bare keys). Requires [[ensureRegistered]] on the session.
    */
  def logfmt_parse(c: Column): Column = call_function("logfmt_parse", c)

  /** Fortinet flavor: valueless keys dropped, date/time excluded. */
  def logfmt_parse_fortinet(c: Column): Column =
    call_function("logfmt_parse_fortinet", c)

  /** Structured-data flavor: valueless keys (bare SD ids) dropped. */
  def logfmt_parse_sd(c: Column): Column = call_function("logfmt_parse_sd", c)

  /** Distinct word n-gram shingles of an array<string> token column. */
  def word_shingles(c: Column, n: Int): Column =
    call_function("word_shingles", c, org.apache.spark.sql.functions.lit(n))

  /** ALL adjacent pairs (space-joined, with multiplicity) of array<string>. */
  def word_pairs(c: Column): Column = call_function("word_pairs", c)

  /** One greedy left-to-right BPE merge of (left, right) over array<string>. */
  def bpe_merge(c: Column, left: String, right: String): Column =
    call_function("bpe_merge", c, org.apache.spark.sql.functions.lit(left),
      org.apache.spark.sql.functions.lit(right))

  /** Lumberjack v2 frame from an array<string> of payloads (seq 1-based). */
  def lumberjack_encode(c: Column): Column = call_function("lumberjack_encode", c)

  /** Lumberjack v2 frame -> array<struct<seq:int,payload:string>> (null on
    * malformed bytes).
    */
  def lumberjack_decode(c: Column): Column = call_function("lumberjack_decode", c)

  /** Cosine similarity of two array<float> columns (double result). */
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Stable 64-bit rolling-hash fingerprint of a string column. */
  def fingerprint64(c: Column): Column = call_function("fingerprint64", c)

  /** MinHash signature (array<long> of length k) of an array<string>. */
  def minhash_sig(c: Column, k: Int): Column =
    call_function("minhash_sig", c, org.apache.spark.sql.functions.lit(k))

  /** 64-bit SimHash of an array<string> token column (seeded). */
  def simhash64(c: Column, seed: Long = 0L): Column =
    call_function("simhash64", c, org.apache.spark.sql.functions.lit(seed))

  /** nSigs independent 64-bit SimHashes (array<long>) in one token pass. */
  def simhash_multi(c: Column, nSigs: Int): Column =
    call_function("simhash_multi", c, org.apache.spark.sql.functions.lit(nSigs))

  /** Encoded (band << bandBits | key) LSH band keys of a multi-simhash. */
  def simhash_band_keys(c: Column, bandBits: Int): Column =
    call_function("simhash_band_keys", c,
      org.apache.spark.sql.functions.lit(bandBits))

  /** Multi-probe band keys (each band key XOR every Hamming<=1 mask). */
  def simhash_probe_keys(c: Column, bandBits: Int): Column =
    call_function("simhash_probe_keys", c,
      org.apache.spark.sql.functions.lit(bandBits))

  /** One hashed long per MinHash band (primitive LSH join key). */
  def minhash_band_keys(c: Column, bands: Int): Column =
    call_function("minhash_band_keys", c,
      org.apache.spark.sql.functions.lit(bands))

  /** Total Hamming distance between two array<long> signatures. */
  def hamming_total(a: Column, b: Column): Column =
    call_function("hamming_total", a, b)

  /** Count of equal positions between two array<long> signatures. */
  def match_count(a: Column, b: Column): Column =
    call_function("match_count", a, b)

  /** Random-hyperplane signature (nBits packed in a long) of array<float>. */
  def rp_sign(c: Column, nBits: Int, seed: Long): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("rp_sign", c, lit(nBits), lit(seed))
  }

  /** Null-skipping one-allocation map<string,string> from k1,v1,k2,v2,... */
  def compact_map(kvs: Column*): Column = call_function("compact_map", kvs: _*)

  /** Merge map `upper` into `lower`, upper winning on key collision — the
    * reference's serde_json insert-overwrite, made safe against Spark's
    * default DUPLICATED_MAP_KEY map_concat exception. Native codegen'd
    * expression (the earlier map_filter composition was CodegenFallback
    * and ran interpreted on the hot syslog path).
    */
  def merge_maps(lower: Column, upper: Column): Column =
    call_function("merge_maps", lower, upper)

  /** The logfmt transform on an event map: pop `field`, logfmt-parse its
    * value and merge the pairs in, renaming collisions "<field>.<key>"
    * unless overwrite; an absent or null `field` leaves `fields` unchanged.
    * See [[MergeFieldMaps]].
    */
  def logfmt_merge_field(fields: Column, field: String, overwrite: Boolean): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("logfmt_merge_field", fields, lit(field), lit(overwrite))
  }

  /** from_json(c, map<string,string>) as a codegen'd expression (null for
    * anything but a JSON object) — keeps projections containing the JSON
    * branch inside WholeStageCodegen (JsonToStructs is CodegenFallback and
    * would exclude the whole operator).
    */
  def json_flat_map(c: Column): Column = call_function("json_flat_map", c)

  /** Reference-parity NDJSON event line (serde_json over a BTreeMap event:
    * compact, sorted keys; `t` emitted as a bare i64 when canonical —
    * fortinet.rs:105). See [[EventJson]].
    */
  def event_json(m: Column): Column = call_function("event_json", m)

  /** Nearest-centroid index (max cosine, ties low) against a driver-side
    * centroid table (empty/null slots = dead cells, skipped).
    */
  def nearest_cell(vec: Column, cents: Seq[Seq[Float]]): Column =
    call_function("nearest_cell", vec,
      org.apache.spark.sql.functions.typedlit(cents))

  /** One-shot regex match returning all capture groups (null = no match). */
  def regexp_groups(c: Column, pattern: String): Column =
    call_function("regexp_groups", c, org.apache.spark.sql.functions.lit(pattern))

  // The dictionary's field kernels, one per format (see [[ParseFields]]),
  // each in the time zone of the session that analyzes it.

  def fortinet_fields(text: Column, date: Column, time: Column,
      runTsMillis: Long): Column =
    call_function("fortinet_fields", text, date, time, current_timezone(), lit(runTsMillis))

  def syslog3164_fields(groups: Column, year: Column, runTsMillis: Long): Column =
    call_function("syslog3164_fields", groups, year, current_timezone(), lit(runTsMillis))

  def syslog5424_fields(groups: Column, runTsMillis: Long): Column =
    call_function("syslog5424_fields", groups, lit(runTsMillis))

  def combined_fields(groups: Column): Column = call_function("combined_fields", groups)

  def error_fields(groups: Column): Column =
    call_function("error_fields", groups, current_timezone())

  def kern_fields(groups: Column, year: Column): Column =
    call_function("kern_fields", groups, year, current_timezone())

  def mini_fields(groups: Column): Column = call_function("mini_fields", groups)

  def format_spec_fields(groups: Column, spec: graft.model.FormatSpec,
      runTsMillis: Long): Column = {
    val ts = spec.ts
    call_function("format_spec_fields", groups,
      typedlit(spec.fields.map(_.name)), typedlit(spec.fields.map(_.group)),
      typedlit(spec.fields.map(_.cast == "long")), lit(ts.fold(0)(_.group)),
      lit(ts.fold("")(_.pattern)), lit(ts.exists(_.unit == "seconds")),
      lit(ts.exists(_.fallbackRunClock)), current_timezone(), lit(runTsMillis))
  }

  /** The text of a synthetic transcript turn in `format` (0-7), from its
    * events columns (see [[TranscriptText]]); `nulls` flags the nullable
    * columns that are null, which arrive with placeholder values.
    */
  def transcript_line(format: Column, eventId: Column, userId: Column, eventType: Column,
      value: Column, ts: Column, nulls: Column): Column =
    call_function("transcript_line", format, eventId, userId, eventType, value, ts, nulls,
      current_timezone())

  /** Rademacher random projection of array<float> to outDims dims. */
  def rp_project(c: Column, outDims: Int, seed: Long): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("rp_project", c, lit(outDims), lit(seed))
  }
}
