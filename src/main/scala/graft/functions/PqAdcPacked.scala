package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native asymmetric-distance (ADC) lookup-sum for product-quantized
  * vectors (Jégou, Douze & Schmid 2011, public PQ literature) over
  * BIT-PACKED codes: `codes` carries 8-bit code fields, 6 per 64-bit word
  * in subspace order (field `m % 6` of word `m / 6` is subspace m's
  * codeword index), `lut` is a query's flattened lookup table (M·k
  * micro-unit partial dot products, row-major by subspace — entry
  * `m·k + j` is `round(dot(querySub_m, codeword_{m,j}) · 1e6)`), and the
  * expression returns `Σ_m lut[m·k + code_m]` as one exact BIGINT.
  *
  * This is the q15d/q16h/q16i/q77 pair scan's hot path: N×|Q| pairs × M
  * lookups. Integer lookup entries are load-bearing twice over: (a) a
  * BIGINT sum is exact and association-free, so the engine-side sum
  * (here, m order) and the DuckDB oracle's `GROUP BY` sum (arbitrary
  * order) are equal by arithmetic, not by evaluation-order luck; and (b)
  * the scan does M integer loads + adds per pair instead of the d
  * multiply-adds of a float dot. The composable HOF form
  * (`aggregate(zip_with(codes, sequence(...)))`) walks the shared
  * interpreted-lambda call sites — the megamorphic finding that
  * motivated [[WordHits]] / [[HammingSig]] — so the kernel keeps the pair
  * scan inside whole-stage codegen.
  *
  * Why the codes are packed (r14, `BASELINE.md` wide-dim section): at
  * production embedding widths PQ needs M = d/4 subspaces to hold recall,
  * and an `array<bigint>` code per subspace grows linearly with d (1.5 KB
  * at d=768/M=192) — the measured reason the persisted-index search LOST
  * to raw adaptive IVF at the 100× wide-dim point. Packing is the at-rest
  * layout public PQ systems ship (FAISS packs code fields contiguously):
  * ⌈M/6⌉ longs = 24 B at the registered M=16 geometry and 256 B at M=192
  * — the binary-signature footprint class, at any d. 8-bit fields (not
  * the 4-bit minimum) keep every k ≤ 256 codebook representable, the
  * bound `pqTopK`/`ivfPqTopK` enforce on `codewords`; SIX per word (48
  * bits), not eight, so every word stays below 2^48 — positive, and
  * exactly representable in a double, which is what lets
  * [[graft.llm.Similarity.unpackCodes]] invert the packing in plain
  * Column arithmetic (long→double is exact under 2^53 and division by a
  * power of two only moves the exponent).
  *
  * The subspace count `m` is the third (foldable) argument: packed codes
  * lose M's exact value to the ⌈M/6⌉ rounding, so the caller passes the
  * SAME geometry constant that built both the codes and the LUT in the
  * same operator, and k derives per row as `lut.length / m`. Guards make
  * every shape inconsistency NULL, never an out-of-bounds read: m ≤ 0, a
  * LUT whose length is not a positive multiple of m, or a codes array
  * whose length ≠ ⌈m/6⌉ → NULL; an extracted field ≥ k → NULL (fields
  * are non-negative by construction of the unsigned extract). Any NULL
  * input, NULL code word or NULL referenced LUT entry → NULL; a NULL LUT
  * entry no code references does not poison the sum.
  *
  * Registered as SQL function `pq_adc_packed` by [[graft.GraftExtensions]].
  */
case class PqAdcPacked(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  import PqAdcPacked.FieldsPerWord

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"pq_adc_packed requires (array<bigint> packed codes, " +
            s"array<bigint> lut, int m), got ${first.dataType.simpleString}, " +
            s"${second.dataType.simpleString} and ${third.dataType.simpleString}")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val m = c.asInstanceOf[Int]
    if (m <= 0 || lut.numElements() % m != 0) return null
    val words = (m + FieldsPerWord - 1) / FieldsPerWord
    if (codes.numElements() != words) return null
    val k = lut.numElements() / m
    // word-outer / field-inner: one getLong per 6 codes and a running
    // 8-bit shift — no per-code div/mod (the first cut paid i/6 and i%6
    // on every iteration of the N×|Q| pair scan; at a cache-resident
    // corpus that ALU overhead made the packed scan SLOWER than one
    // array<bigint> code per subspace — measured at the 100× wide-dim
    // point)
    var acc = 0L
    var i = 0
    var w = 0
    while (w < words) {
      if (codes.isNullAt(w)) return null
      var word = codes.getLong(w)
      var f = 0
      while (f < FieldsPerWord && i < m) {
        val code = word & 0xFFL
        if (code >= k) return null
        val idx = i * k + code.toInt
        if (lut.isNullAt(idx)) return null
        acc += lut.getLong(idx)
        word >>>= 8
        f += 1
        i += 1
      }
      w += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val i = ctx.freshName("i")
      val w = ctx.freshName("w")
      val f = ctx.freshName("f")
      val word = ctx.freshName("word")
      val words = ctx.freshName("words")
      val code = ctx.freshName("code")
      val kk = ctx.freshName("k")
      val mm = ctx.freshName("m")
      val idx = ctx.freshName("idx")
      val acc = ctx.freshName("acc")
      // Mirrors the interpreted path: word-outer / shift-inner (no
      // per-code div/mod), numElements() hoisted to locals (the
      // HammingSig r13 rule) — this loop runs once per PAIR of the
      // N×|Q| candidate scan. Multi-term conditions stay on ONE
      // generated line: a continuation line beginning with "||" loses
      // its pipes to a later stripMargin pass in the codegen plumbing
      // (observed: Janino got the line with the operator stripped).
      s"""
         |int $mm = $c;
         |int $words = ($mm + ${FieldsPerWord - 1}) / $FieldsPerWord;
         |if ($mm <= 0 || $b.numElements() % $mm != 0 || $a.numElements() != $words) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $kk = $b.numElements() / $mm;
         |  long $acc = 0L;
         |  int $i = 0;
         |  outer: for (int $w = 0; $w < $words; $w++) {
         |    if ($a.isNullAt($w)) { ${ev.isNull} = true; break; }
         |    long $word = $a.getLong($w);
         |    for (int $f = 0; $f < $FieldsPerWord && $i < $mm; $f++, $i++) {
         |      long $code = $word & 0xFFL;
         |      if ($code >= (long) $kk) { ${ev.isNull} = true; break outer; }
         |      int $idx = $i * $kk + (int) $code;
         |      if ($b.isNullAt($idx)) { ${ev.isNull} = true; break outer; }
         |      $acc += $b.getLong($idx);
         |      $word >>>= 8;
         |    }
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqAdcPacked =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "pq_adc_packed"
}

object PqAdcPacked {

  /** 8-bit code fields per 64-bit word: the one constant of the packed
    * layout, shared by the kernel, its usage text and
    * [[graft.llm.Similarity.packCodes]].
    */
  val FieldsPerWord = 6
}
