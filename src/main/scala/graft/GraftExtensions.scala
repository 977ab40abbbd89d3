package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, StringType}

import graft.functions.{CosineSimilarity, CutSpans, HammingSig, HyperplaneBuckets, JsonShred, MinHashSignatures, NfcNormalize, PqAdcPacked, SimHashSketch, WinnowFingerprints, WordHits}

/** Engine extension point (`spark.sql.extensions=graft.GraftExtensions`):
  * registers the engine's native Catalyst expressions
  * ([[GraftExtensions.natives]]) with the function registry so they are
  * callable from SQL and `call_function` without any private-API Column
  * construction.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.natives.foreach { n =>
      ext.injectFunction((
        FunctionIdentifier(n.name),
        new ExpressionInfo(n.cls.getName, null, n.name, n.usage, ""),
        (children: Seq[Expression]) => n.build(new GraftExtensions.Args(n, children))))
    }
}

object GraftExtensions {

  /** One registered native function: SQL name, the Catalyst class it
    * builds, the usage line `DESCRIBE FUNCTION` prints, the argument
    * count, and the builder over the checked arguments.
    */
  final case class Native(
      name: String, cls: Class[_], usage: String, arity: Int, build: Args => Expression)

  /** A call's arguments, arity-checked on construction. The literal
    * readers are the one place a native's compile-time argument (a kernel
    * parameter the expression holds as a Scala value) is parsed; each
    * failure names the function and the argument.
    */
  final class Args(fn: Native, children: Seq[Expression]) {
    if (children.size != fn.arity)
      throw new IllegalArgumentException(
        s"${fn.name} takes exactly ${fn.arity} argument(s), got ${children.size}")

    def apply(i: Int): Expression = children(i)
    def int(i: Int, arg: String): Int =
      literal(i, arg, "an integer") { case Literal(v: Int, IntegerType) => v }
    def bool(i: Int, arg: String): Boolean =
      literal(i, arg, "a boolean") { case Literal(v: Boolean, BooleanType) => v }
    /** A comma-separated list; empty items drop. */
    def csv(i: Int, arg: String): Seq[String] =
      literal(i, arg, "a non-null string") {
        case Literal(s, _: StringType) if s != null => s.toString.split(',').filter(_.nonEmpty).toSeq
      }
    def longs(i: Int, arg: String): Seq[Long] =
      literal(i, arg, "a non-null array<long>") {
        case Literal(a: ArrayData, ArrayType(LongType, _)) => a.toLongArray().toSeq
      }

    private def literal[T](i: Int, arg: String, kind: String)(
        read: PartialFunction[Expression, T]): T =
      read.applyOrElse(children(i), (_: Expression) =>
        throw new IllegalArgumentException(s"${fn.name} $arg must be $kind literal"))
  }

  val natives: Seq[Native] = Seq(
    Native("cosine_sim", classOf[CosineSimilarity],
      "cosine_sim(a, b) - fused cosine similarity of two array<double> vectors",
      2, a => CosineSimilarity(a(0), a(1))),
    Native("hamming_sig", classOf[HammingSig],
      "hamming_sig(a, b) - Hamming distance between two packed bit " +
        "signatures (array<bigint> of 32-bit words)",
      2, a => HammingSig(a(0), a(1))),
    Native("json_shred", classOf[JsonShred],
      "json_shred(json, wantKeys, fieldsCsv, nestedKeysCsv) - single-parse " +
        "JSON shred: struct of top-level keys, depth<=2 field values, and " +
        "nested-object key lists",
      4, a => JsonShred(a(0), a.bool(1, "wantKeys"), a.csv(2, "fields"), a.csv(3, "nestedKeys"))),
    Native("word_hits", classOf[WordHits],
      "word_hits(tokens, wordsCsv) - occurrences of the comma-separated " +
        "static word list among an array<string> of tokens",
      2, a => WordHits(a(0), a.csv(1, "words"))),
    Native("minhash_sigs", classOf[MinHashSignatures],
      "minhash_sigs(shingles, numHashes) - all numHashes seeded-md5 " +
        "MinHash minima of an array<string> shingle set in one traversal",
      2, a => MinHashSignatures(a(0), a.int(1, "numHashes"))),
    Native("winnow_fps", classOf[WinnowFingerprints],
      "winnow_fps(tokens, k, w) - winnowing document fingerprints: " +
        "distinct sliding-window-of-w minima over positional k-gram md5s",
      3, a => WinnowFingerprints(a(0), a.int(1, "k"), a.int(2, "w"))),
    Native("simhash_md5", classOf[SimHashSketch],
      "simhash_md5(tokens, bits) - md5-parity SimHash sketch of an " +
        "array<string> of tokens in one pass (bits <= 32)",
      2, a => SimHashSketch(a(0), a.int(1, "bits"))),
    Native("cut_spans", classOf[CutSpans],
      "cut_spans(tokens, starts, k) - struct(n_removed, cleaned): drops " +
        "every token position covered by a k-token span opening at any of " +
        "the SORTED starts; survivors re-join with single spaces",
      3, a => CutSpans(a(0), a(1), a.int(2, "k"))),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its own
    // runtime row-level filtering (SPARK-32268) but registers them only in
    // the INTERNAL registry — `might_contain` is not callable from SQL or
    // call_function. Surfacing them here makes the semi-join pruning
    // primitive hand-placeable (operators.BloomPrune) with the exact
    // codegen'd expressions the optimizer itself injects — no UDF.
    Native("bloom_agg", classOf[BloomFilterAggregate],
      "bloom_agg(xxhash64(key), estimatedItems, numBits) - aggregate a " +
        "long-hashed key column into a serialized Bloom filter (binary)",
      3, a => new BloomFilterAggregate(a(0), a(1), a(2))),
    Native("bloom_probe", classOf[BloomFilterMightContain],
      "bloom_probe(bloom, xxhash64(key)) - true if the Bloom filter built " +
        "by bloom_agg might contain the long-hashed key (no false negatives)",
      2, a => BloomFilterMightContain(a(0), a(1))),
    Native("lsh_buckets", classOf[HyperplaneBuckets],
      "lsh_buckets(emb, planeBits, np, dims) - all multi-table hyperplane " +
        "LSH bucket ids of an array<double> embedding in one pass; " +
        "planeBits is a row-major array<long> literal of sign-packed " +
        "planes, np per table",
      4, a => HyperplaneBuckets(a(0), a.longs(1, "planeBits"), a.int(2, "np"), a.int(3, "dims"))),
    Native("pq_adc_packed", classOf[PqAdcPacked],
      "pq_adc_packed(pcodes, lut, m) - product-quantization " +
        "asymmetric-distance lookup sum over bit-packed codes: sum over " +
        "subspaces i of lut[i*k + code_i], exact BIGINT over micro-unit " +
        s"integer partial dot products; 8-bit code fields, ${PqAdcPacked.FieldsPerWord} " +
        "per 64-bit word in subspace order; m is the subspace count " +
        "(geometry constant), k = lut.length / m",
      3, a => PqAdcPacked(a(0), a(1), a(2))),
    Native("nfc_norm", classOf[NfcNormalize],
      "nfc_norm(text) - Unicode NFC normalization (UAX #15); twin of " +
        "DuckDB's nfc_normalize",
      1, a => NfcNormalize(a(0))))
}
