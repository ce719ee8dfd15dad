package pystreamsspark.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native MinHash signature: for an `array<string>` shingle set, returns
  * `array<long>` of length `numHashes` where slot i is
  * min over shingles of xxh64_mix(xxh64(shingle), seed = i).
  *
  * Each shingle's bytes are hashed ONCE (XXH64 over the UTF8 bytes); the
  * per-seed family is a cheap 8-byte re-mix — versus a higher-order
  * `transform` formulation, which would re-hash every shingle string
  * once per seed through an interpreted lambda. One fused codegen loop,
  * numHashes × |shingles| long-mixes instead of string hashes.
  */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isStringInput: Boolean = child.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> or array<long> (pre-hashed " +
        s"shingles), got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    val m = arr.numElements()
    while (j < m) {
      val h =
        if (isStringInput) {
          val s = arr.getUTF8String(j)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        } else arr.getLong(j)
      var i = 0
      while (i < numHashes) {
        val hi = XXH64.hashLong(h, i)
        if (hi < mins(i)) mins(i) = hi
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xxh = classOf[XXH64].getName
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val hi = ctx.freshName("hi")
      val baseHash =
        if (isStringInput)
          s"""UTF8String $s = $a.getUTF8String($j);
             |  long $h = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);""".stripMargin
        else
          s"long $h = $a.getLong($j);"
      s"""
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |int $m = $a.numElements();
         |for (int $j = 0; $j < $m; $j++) {
         |  $baseHash
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    long $hi = $xxh.hashLong($h, (long) $i);
         |    if ($hi < $mins[$i]) $mins[$i] = $hi;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** Registry entry: minhash_sig(arr, numHashes) — numHashes must be a
    * foldable int literal. */
  val registryEntry: (String, ExpressionInfo, Seq[Expression] => Expression) =
    ("minhash_sig",
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (es: Seq[Expression]) => MinHashSig(
        es(0),
        es(1).eval().asInstanceOf[Int]))
}
