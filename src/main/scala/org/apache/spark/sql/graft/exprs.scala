package org.apache.spark.sql.graft

import graft.functions.HashImpls

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions. Hosted under `org.apache.spark.sql` because
  * the expression-authoring surface (`AbstractDataType`, the classic
  * Column↔Expression bridge) is `private[sql]` — the standard technique for
  * out-of-tree expression libraries. Kernels live in
  * [[graft.functions.HashImpls]] (public, shared by interpreted eval and
  * generated code), so each `doGenCode` is a single static call and the
  * expression stays inside whole-stage codegen. */
object exprs {

  /** `rolling_hash(str) -> bigint` — SQL-reproducible document fingerprint. */
  case class RollingHash(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = HashImpls.rollingHash(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.rollingHash($c)")
    override protected def withNewChildInternal(c: Expression): RollingHash = copy(child = c)
  }

  /** `simhash64(array<string>) -> bigint` — 64-bit SimHash fingerprint. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = HashImpls.simHash64(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.simHash64($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** `minhash(array<string>, k) -> array<bigint>` — single-pass K-perm
    * MinHash signature. */
  case class MinHashSig(child: Expression, numHashes: Int, seed: Long)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      HashImpls.minHash(v.asInstanceOf[ArrayData], numHashes, seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashImpls.minHash($c, $numHashes, ${seed}L)")
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  }

  /** `shingles(array<string>, n) -> array<string>` — distinct n-gram
    * shingles in one pass (see [[graft.functions.HashImpls.shingles]]). */
  case class Shingles(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      HashImpls.shingles(v.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.shingles($c, $n)")
    override protected def withNewChildInternal(c: Expression): Shingles = copy(child = c)
  }

  /** `srp_sig(array<double>, bits[, planeOffset]) -> bigint` — single-pass
    * signed-random-projection LSH signature word (see
    * [[graft.functions.HashImpls.srpSignature]]); signatures wider than 64
    * bits compose words at plane offsets 0, 64, 128, …. */
  case class SrpSig(child: Expression, bits: Int, planeOffset: Int = 0)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      HashImpls.srpSignature(v.asInstanceOf[ArrayData], bits, planeOffset)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashImpls.srpSignature($c, $bits, $planeOffset)")
    override protected def withNewChildInternal(c: Expression): SrpSig = copy(child = c)
  }

  /** `stopword_scores(str) -> array<bigint>` — per-group count of DISTINCT
    * stopwords present, word-boundary semantics identical to the padded-
    * LIKE Column formula (see [[graft.functions.StopwordMatcher]]): one
    * lowercase + one byte pass scores every group, vs one full-text
    * `contains` scan per word. */
  case class StopwordScores(child: Expression, groups: Seq[Seq[String]])
      extends UnaryExpression with ExpectsInputTypes {
    // eager: misuse must fail at plan-build time on the driver, not inside
    // a task when the transient-lazy matcher first initializes
    graft.functions.StopwordMatcher.validate(
      groups.indices.map(_.toString).toArray, groups.map(_.toArray).toArray)
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val matcher =
      new graft.functions.StopwordMatcher(groups.indices.map(_.toString).toArray,
        groups.map(_.toArray).toArray)
    override def nullSafeEval(v: Any): Any =
      matcher.scoresArray(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("matcher", matcher,
        classOf[graft.functions.StopwordMatcher].getName)
      defineCodeGen(ctx, ev, c => s"$m.scoresArray($c)")
    }
    override protected def withNewChildInternal(c: Expression): StopwordScores =
      copy(child = c)
  }

  /** `lang_id(str) -> str` — argmax stopword group label (ties → earlier
    * group, no hits → 'unknown') in the same single pass. Returning the
    * label directly keeps the projection to ONE kernel call — a
    * scores-array argmax via `greatest(struct...)` would re-reference the
    * array expression once per language. */
  case class LangId(child: Expression, groups: Seq[(String, Seq[String])])
      extends UnaryExpression with ExpectsInputTypes {
    graft.functions.StopwordMatcher.validate(
      groups.map(_._1).toArray, groups.map(_._2.toArray).toArray)
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = StringType
    @transient private lazy val matcher =
      new graft.functions.StopwordMatcher(groups.map(_._1).toArray,
        groups.map(_._2.toArray).toArray)
    override def nullSafeEval(v: Any): Any =
      matcher.label(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("matcher", matcher,
        classOf[graft.functions.StopwordMatcher].getName)
      defineCodeGen(ctx, ev, c => s"$m.label($c)")
    }
    override protected def withNewChildInternal(c: Expression): LangId =
      copy(child = c)
  }

  /** `line_stats(str) -> array<bigint>` — `[n_lines, n_distinct_lines,
    * line_chars, dup_line_chars]` over non-empty `\n`-split lines in one
    * pass (see [[graft.functions.HashImpls.lineStats]]); the raw
    * sufficient statistics for the duplicate-line repetition signals. */
  case class LineStats(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      HashImpls.lineStats(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.lineStats($c)")
    override protected def withNewChildInternal(c: Expression): LineStats = copy(child = c)
  }

  /** `top_bigram_cover(array<string>) -> bigint` — characters covered by
    * the most frequent adjacent token pair (see
    * [[graft.functions.HashImpls.topBigramCover]]). */
  case class TopBigramCover(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      HashImpls.topBigramCover(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.topBigramCover($c)")
    override protected def withNewChildInternal(c: Expression): TopBigramCover = copy(child = c)
  }

  /** `jaccard_milli(array<string>, array<string>) -> bigint` — exact set
    * Jaccard in milli-units, one hash-set pass (see
    * [[graft.functions.HashImpls.jaccardMilli]]). */
  case class JaccardMilli(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(StringType), ArrayType(StringType))
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashImpls.jaccardMilli(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpls.jaccardMilli($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardMilli =
      copy(left = l, right = r)
  }

  /** `cosine_sim(array<double>, array<double>) -> double` — sequential-fold
    * cosine, bit-reproducible vs the oracle (see
    * [[graft.functions.HashImpls.cosineSim]]). */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashImpls.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpls.cosineSim($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
  }

  /** `char_entropy_milli(str) -> bigint` — Shannon entropy of the
    * code-point distribution in milli-nats (see
    * [[graft.functions.HashImpls.charEntropyMilli]]). */
  case class CharEntropyMilli(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      HashImpls.charEntropyMilli(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.charEntropyMilli($c)")
    override protected def withNewChildInternal(c: Expression): CharEntropyMilli =
      copy(child = c)
  }

  /** `z_interleave(bigint, bigint) -> bigint` — Morton/Z-order bit
    * interleave of the low 31 bits of each key (see
    * [[graft.functions.HashImpls.zInterleave]]). */
  case class ZInterleave(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashImpls.zInterleave(a.asInstanceOf[Long], b.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpls.zInterleave($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ZInterleave =
      copy(left = l, right = r)
  }

  /** `wordpiece_stats(array<string>, vocab) -> array<bigint>` —
    * `[n_pieces, n_fallback]` of the greedy longest-prefix subword walk
    * (see [[graft.functions.WordpieceMatcher]]). */
  case class WordpieceStats(child: Expression, vocab: Seq[String])
      extends UnaryExpression with ExpectsInputTypes {
    graft.functions.WordpieceMatcher.validate(vocab.toArray) // eager, driver-side
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val matcher = new graft.functions.WordpieceMatcher(vocab.toArray)
    override def nullSafeEval(v: Any): Any = matcher.stats(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("matcher", matcher,
        classOf[graft.functions.WordpieceMatcher].getName)
      defineCodeGen(ctx, ev, c => s"$m.stats($c)")
    }
    override protected def withNewChildInternal(c: Expression): WordpieceStats =
      copy(child = c)
  }

  /** `wordpiece_segment(array<string>, vocab) -> array<string>` — the
    * subword pieces themselves, in order (exact token-budget packing). */
  case class WordpieceSegment(child: Expression, vocab: Seq[String])
      extends UnaryExpression with ExpectsInputTypes {
    graft.functions.WordpieceMatcher.validate(vocab.toArray)
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    @transient private lazy val matcher = new graft.functions.WordpieceMatcher(vocab.toArray)
    override def nullSafeEval(v: Any): Any = matcher.segment(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("matcher", matcher,
        classOf[graft.functions.WordpieceMatcher].getName)
      defineCodeGen(ctx, ev, c => s"$m.segment($c)")
    }
    override protected def withNewChildInternal(c: Expression): WordpieceSegment =
      copy(child = c)
  }

  /** `unicode_normalize(str, form) -> str` — Unicode normalization via
    * `java.text.Normalizer`. NFC before hashing/dedup is the standard
    * pipeline step that stops composed-vs-decomposed accent encodings of
    * the SAME text from defeating exact dedup; NFKC additionally folds
    * compatibility characters (fullwidth forms, ligatures) for token
    * matching. The Unicode normalization algorithm is fully specified, so
    * any conformant engine (the oracle uses DuckDB's `nfc_normalize`)
    * produces identical bytes — hash-exact by standard, not by luck. */
  case class UnicodeNormalize(child: Expression, form: java.text.Normalizer.Form)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(java.text.Normalizer.normalize(
        v.asInstanceOf[UTF8String].toString, form))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"""org.apache.spark.unsafe.types.UTF8String.fromString(
           |  java.text.Normalizer.normalize($c.toString(),
           |    java.text.Normalizer.Form.${form.name}))""".stripMargin)
    override protected def withNewChildInternal(c: Expression): UnicodeNormalize =
      copy(child = c)
  }

  def rolling_hash(c: Column): Column =
    ExpressionUtils.column(RollingHash(ExpressionUtils.expression(c)))
  def char_entropy_milli(c: Column): Column =
    ExpressionUtils.column(CharEntropyMilli(ExpressionUtils.expression(c)))
  def z_interleave(a: Column, b: Column): Column =
    ExpressionUtils.column(ZInterleave(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def wordpiece_stats(c: Column, vocab: Seq[String]): Column =
    ExpressionUtils.column(WordpieceStats(ExpressionUtils.expression(c), vocab))
  def wordpiece_segment(c: Column, vocab: Seq[String]): Column =
    ExpressionUtils.column(WordpieceSegment(ExpressionUtils.expression(c), vocab))
  def unicode_normalize(c: Column, form: String): Column =
    ExpressionUtils.column(UnicodeNormalize(ExpressionUtils.expression(c),
      java.text.Normalizer.Form.valueOf(form)))
  def simhash64(c: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(c)))
  def minhash(c: Column, k: Int, seed: Long): Column =
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(c), k, seed))
  def shingles(c: Column, n: Int): Column =
    ExpressionUtils.column(Shingles(ExpressionUtils.expression(c), n))
  def srp_sig(c: Column, bits: Int, planeOffset: Int = 0): Column =
    ExpressionUtils.column(SrpSig(ExpressionUtils.expression(c), bits, planeOffset))
  def cosine_sim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def jaccard_milli(a: Column, b: Column): Column =
    ExpressionUtils.column(JaccardMilli(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def line_stats(c: Column): Column =
    ExpressionUtils.column(LineStats(ExpressionUtils.expression(c)))
  def top_bigram_cover(c: Column): Column =
    ExpressionUtils.column(TopBigramCover(ExpressionUtils.expression(c)))
  def stopword_scores(c: Column, groups: Seq[Seq[String]]): Column =
    ExpressionUtils.column(StopwordScores(ExpressionUtils.expression(c), groups))
  def lang_id(c: Column, groups: Seq[(String, Seq[String])]): Column =
    ExpressionUtils.column(LangId(ExpressionUtils.expression(c), groups))

  /** Spark's native runtime-filter Bloom machinery — `BloomFilterAggregate`
    * to build (distributed, merge-combinable) and `BloomFilterMightContain`
    * to probe (codegen'd) — is what AQE's InjectRuntimeFilter plans, but it
    * has no public Column API; bridged here. Both sides hash through
    * `xxhash64`, matching the aggregate's insert contract, so a filter
    * built by [[bloom_agg]] is probe-compatible with
    * [[bloom_might_contain]] by construction. No UDF on either path. */
  def bloom_agg(c: Column, expectedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(ExpressionUtils.expression(c))),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /** Re-bind a DataFrame's logical plan onto another session of the same
    * SparkContext — the supported pattern for running one query under
    * session-scoped conf overrides (e.g. [[graft.operators.Dedup
    * .exactIncremental]]'s Bloom-cap raise) without mutating the caller's
    * session, whose confs other concurrent queries are reading. Uses the
    * `private[sql]` classic `Dataset.ofRows` bridge, hence hosted here. */
  def onSession(session: org.apache.spark.sql.SparkSession,
                df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      // the ANALYZED plan: already resolved against the source session's
      // catalog, so temp-view references survive the re-bind (the target
      // session's temp-view namespace is separate and likely empty)
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.analyzed)

  /** A DataFrame over an RDD of [[org.apache.spark.sql.catalyst
    * .InternalRow]]s — the `private[sql]` `internalCreateDataFrame`
    * bridge, hence hosted here. The lake's merge-on-read functional
    * reads use it: vectored objects stream through the connector's own
    * [[graft.lake.LakeObjectReader]] on executors (position-exact
    * delete-vector skips), and this turns the result into the same
    * DataFrame shape the CSV fast path yields. */
  def dataFrameOfInternalRows(session: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  def bloom_might_contain(bloom: Array[Byte], c: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bloom, BinaryType),
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(ExpressionUtils.expression(c)))))

  private def stringLit(e: Expression, what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, StringType) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: $other")
  }

  private def intLit(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  /** The single SQL function registry — (name, usage, builder) — consumed
    * by [[graft.GraftExtensions]] (every `graft.Sessions` session, or
    * `spark.sql.extensions` on a cluster) and by [[register]] (a session
    * built elsewhere), so the two surfaces cannot drift. Int/long parameters must be foldable literals
    * (they parameterize codegen). */
  val functionBuilders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", "rolling_hash(str) - SQL-reproducible document fingerprint",
      es => RollingHash(es.head)),
    ("simhash64", "simhash64(array<string>) - 64-bit SimHash",
      es => SimHash64(es.head)),
    ("shingles", "shingles(array<string>, n) - distinct n-gram shingles",
      es => Shingles(es.head, intLit(es(1), "shingles n").toInt)),
    ("minhash", "minhash(array<string>, k[, seed]) - MinHash signature",
      es => MinHashSig(es.head, intLit(es(1), "minhash k").toInt,
        if (es.size > 2) intLit(es(2), "minhash seed") else 1L)),
    ("srp_sig", "srp_sig(array<double>, bits[, planeOffset]) - SRP LSH signature word",
      es => SrpSig(es.head, intLit(es(1), "srp_sig bits").toInt,
        if (es.size > 2) intLit(es(2), "srp_sig planeOffset").toInt else 0)),
    ("cosine_sim", "cosine_sim(array<double>, array<double>) - cosine similarity",
      es => CosineSim(es.head, es(1))),
    ("jaccard_milli", "jaccard_milli(array<string>, array<string>) - set Jaccard in milli-units",
      es => JaccardMilli(es.head, es(1))),
    ("line_stats", "line_stats(str) - [n_lines, n_distinct_lines, line_chars, dup_line_chars]",
      es => LineStats(es.head)),
    ("top_bigram_cover", "top_bigram_cover(array<string>) - chars covered by the top token 2-gram",
      es => TopBigramCover(es.head)),
    ("stopword_scores", "stopword_scores(str, array<string>...) - distinct-hit count per word group",
      es => StopwordScores(es.head, es.tail.map(stringSeqLit(_, "stopword_scores group")))),
    ("lang_id", "lang_id(str) - stopword-argmax language label over the built-in inventories",
      es => LangId(es.head, graft.functions.Text.StopwordSets)),
    ("char_entropy_milli", "char_entropy_milli(str) - code-point Shannon entropy in milli-nats",
      es => CharEntropyMilli(es.head)),
    ("z_interleave", "z_interleave(a, b) - Morton/Z-order interleave of two 31-bit keys",
      es => ZInterleave(es.head, es(1))),
    ("wordpiece_stats", "wordpiece_stats(array<string>, array<string> vocab) - [n_pieces, n_fallback]",
      es => WordpieceStats(es.head, stringSeqLit(es(1), "wordpiece_stats vocab"))),
    ("wordpiece_segment", "wordpiece_segment(array<string>, array<string> vocab) - subword pieces in order",
      es => WordpieceSegment(es.head, stringSeqLit(es(1), "wordpiece_segment vocab"))),
    ("unicode_normalize", "unicode_normalize(str, 'NFC'|'NFD'|'NFKC'|'NFKD') - Unicode normalization",
      es => UnicodeNormalize(es.head,
        java.text.Normalizer.Form.valueOf(stringLit(es(1), "unicode_normalize form")))))

  /** Evaluate a foldable `array<string>` argument (e.g. `array('a','b')`)
    * to its Scala value — group inventories parameterize the compiled
    * matcher, so like the int params above they must be literals. */
  private def stringSeqLit(e: Expression, what: String): Seq[String] = {
    val ok = e.foldable && (e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (!ok)
      throw new IllegalArgumentException(
        s"$what must be a foldable array<string> literal, got: $e")
    val arr = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val out = arr.toObjectArray(StringType).map {
      case null => throw new IllegalArgumentException(s"$what must not contain NULL")
      case u: UTF8String => u.toString
    }
    out.toSeq
  }

  /** Register every custom expression on an existing session, so each
    * Column entry point above has a `SELECT`-able twin. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functionBuilders.foreach { case (name, _, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}
