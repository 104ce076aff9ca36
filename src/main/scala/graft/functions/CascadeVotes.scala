package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ALL FOUR cascade gate scores in one pass over one tokenization — the
  * per-row engine of the fused curation cascade (r18). The column-level
  * fused form already collapsed 4 corpus scans into 1; this expression
  * collapses the per-row cost: the four gates each re-tokenized the text
  * (clf unigram hashes, fluency unigram+bigram hashes, repetition token
  * strings, contamination trigram hashes) and ran interpreted
  * higher-order functions over the arrays. Here the text is segmented
  * ONCE ([[graft.ops.Tokens.segString]], the shared token walk) into
  * the original-case token strings (repetition), each hashed with
  * [[WordShingleHashes.tokenHash]] (the sketch tier), and every gate's
  * integer arithmetic runs in tight Java loops inside whole-stage
  * codegen.
  *
  * Semantics are EXACTLY the four standalone operators' (vote-for-vote
  * equality against the four-frame reference is pinned in CascadeSpec):
  *  - clf_keep: Σ w[pmod(u_j, |w|)] / m ≥ thr over the unigram hashes;
  *    NULL when the doc has no tokens (no features → abstain);
  *  - fluency_ppm: the [[graft.ops.Fluency]] integer formula — per
  *    transition, bigram-bucket likelihood with +1-smoothed prefix
  *    unigram, else the smoothed continuation-unigram backoff; mean by
  *    integer division; NULL when fewer than 2 tokens;
  *  - repetition_keep: NOT (m > 0 ∧ (100·topBigram > topMax·(m−1) ∨
  *    100·(m−distinct) > dupMax·m)) over the ORIGINAL-case strings
  *    (the [[TopBigramCount]] gram rule);
  *  - cov: count of trigram hashes present in the sorted benchmark set
  *    (binary search per window — log|benchmark| probes); NULL when
  *    fewer than 3 tokens (no shingles → the contamination abstention).
  *
  * NULL text → NULL struct (every vote NULL — the Kleene abstention row).
  * The models ride the expression as plan references: clf weights
  * (≤ 1024 longs), LM arrays (≤ 17 408), the sorted benchmark shingle
  * set (bounded by [[graft.ops.Curation.CascadePlanLiteralMax]] — above
  * it the caller switches to the broadcast-join contamination form).
  *
  * Known limitation (r18 advice, documented by design): the Array[Long]
  * constructor params compare by REFERENCE under case-class
  * equals/hashCode, so two structurally identical instances never
  * compare equal and common-subexpression elimination / semanticEquals
  * canonicalization cannot merge them. Each cascade plan builds exactly
  * ONE instance referenced once, so nothing is lost today; wrap the
  * arrays in a value-equality holder before ever instantiating this
  * expression twice per plan. */
case class CascadeVotes(child: Expression,
    clfW: Array[Long], clfThr: Long,
    uniW: Array[Long], biW: Array[Long], lmTot: Long,
    bench: Array[Long],
    topBigramPctMax: Int, dupTokenPctMax: Int)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("clf_keep", BooleanType, nullable = true),
    StructField("fluency_ppm", LongType, nullable = true),
    StructField("repetition_keep", BooleanType, nullable = false),
    StructField("cov", LongType, nullable = true)))
  override def prettyName: String = "cascade_votes"

  def votesOf(in: UTF8String): InternalRow = {
    val words = graft.ops.Tokens.segString(in.toString)
    val th = words.map(w => WordShingleHashes.tokenHash(w, 0, w.length))
    val m = words.length

    // ---- clf: unigram-hash bucket weights, integer mean vs threshold
    val clfKeep: Any =
      if (m == 0) null
      else {
        var wsum = 0L
        var j = 0
        while (j < m) {
          val u = Mix64.mix(th(j) + Mix64.Golden)
          wsum += clfW(java.lang.Math.floorMod(u, clfW.length.toLong).toInt)
          j += 1
        }
        java.lang.Boolean.valueOf(wsum / m >= clfThr)
      }

    // ---- fluency: bigram LM with unigram backoff, exact Long ppm
    val fluencyPpm: Any =
      if (m < 2) null
      else {
        var psum = 0L
        var j = 0
        while (j < m - 1) {
          val bh = WordShingleHashes.window(th, j, 2)
          val bw = biW(java.lang.Math.floorMod(bh, biW.length.toLong).toInt)
          val p =
            if (bw > 0L) {
              val upre = uniW(java.lang.Math.floorMod(
                Mix64.mix(th(j) + Mix64.Golden), uniW.length.toLong).toInt)
              math.min(1000000L, bw * 1000000L / (upre + 1L))
            } else {
              val ucont = uniW(java.lang.Math.floorMod(
                Mix64.mix(th(j + 1) + Mix64.Golden), uniW.length.toLong).toInt)
              (ucont + 1L) * 100000L / (lmTot + uniW.length)
            }
          psum += p
          j += 1
        }
        java.lang.Long.valueOf(psum / (m - 1))
      }

    // ---- repetition: distinct tokens + top bigram over ORIGINAL strings
    val repetitionKeep: Boolean =
      if (m == 0) true
      else {
        val distinct = new java.util.HashSet[String](m * 2)
        var j = 0
        while (j < m) { distinct.add(words(j)); j += 1 }
        var top = 0L
        if (m >= 2) {
          val grams = new java.util.HashMap[String, java.lang.Long](m * 2)
          var k = 0
          while (k < m - 1) {
            val g = words(k) + " " + words(k + 1)
            val c = grams.merge(g, java.lang.Long.valueOf(1L),
              (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
            if (c.longValue > top) top = c.longValue
            k += 1
          }
        }
        val nb = math.max(m - 1, 0).toLong
        val isRep = top * 100L > nb * topBigramPctMax ||
          (m.toLong - distinct.size) * 100L > m.toLong * dupTokenPctMax
        !isRep
      }

    // ---- contamination: trigram windows vs the sorted benchmark set
    val cov: Any =
      if (m < 3) null
      else {
        var c = 0L
        var w = 0
        while (w <= m - 3) {
          if (java.util.Arrays.binarySearch(bench, WordShingleHashes.window(th, w, 3)) >= 0) c += 1
          w += 1
        }
        java.lang.Long.valueOf(c)
      }

    InternalRow(clfKeep, fluencyPpm, repetitionKeep, cov)
  }

  override def nullSafeEval(in: Any): Any = votesOf(in.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("cascadeVotes", this, classOf[CascadeVotes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.votesOf($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
