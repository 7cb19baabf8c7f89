package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Symmetric per-vector int8 embedding quantization.
  *
  * The memory lever for similarity search at corpus scale: float32
  * embeddings dominate the shuffle and cache footprint of every ANN /
  * near-dup job, and a per-vector symmetric int8 code shrinks them 4×
  * with a bounded reconstruction error — the standard first step of the
  * IVF/PQ family (the reference's similarity surface stops at exact
  * cosine; this is the scale path an LLM-data pipeline adds on top).
  *
  * Scheme: `scale = max(|v_i|)/127`, `code_i = round(v_i/scale)` — codes
  * in [-127, 127], reconstruction `v̂_i = code_i·scale` with
  * `|v̂_i − v_i| ≤ scale/2`. All arithmetic is Spark built-ins
  * (`transform`/`aggregate` — codegen'd, no UDF), so quantization runs
  * inside whole-stage codegen at scan speed, and the 100 TB shape is
  * unchanged: a narrow map over the embeddings table, no shuffle.
  */
object Quantize {

  /** max(|v_i|)/127 as a DOUBLE — the per-vector quantization step. */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x))).cast("double") / lit(127.0)

  /** Quantize `vecCol` (ARRAY<FLOAT>) → `q_scale` DOUBLE + `q_codes`
    * ARRAY<INT> in [-127, 127]. The zero vector (scale 0) quantizes to
    * all-zero codes rather than dividing by zero. */
  def quantizeInt8(embeddings: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val df = embeddings.withColumn("q_scale", int8Scale(col(vecCol)))
    df.withColumn("q_codes",
      when(col("q_scale") === 0.0, transform(col(vecCol), _ => lit(0)))
        .otherwise(transform(col(vecCol),
          x => round(x.cast("double") / col("q_scale")).cast("int"))))
  }

  /** Reconstruct ARRAY<FLOAT> from codes + scale (error ≤ scale/2 per
    * element). */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, c => (c.cast("double") * scale).cast("float"))

  /** Quantize `vecCol` into the PACKED form: `q_scale` DOUBLE + `q_bytes`
    * BINARY, exactly one byte per element ([[GraftRuntime.int8Pack]]) — what a 100 TB
    * index stores instead of parquet-encoded INT32 code arrays. Codes
    * equal [[quantizeInt8]]'s (same round-half-away-from-zero), so the
    * q80 oracle pins this lane too. */
  def quantizeInt8Packed(embeddings: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val df = embeddings.withColumn("q_scale", int8Scale(col(vecCol)))
    df.withColumn("q_bytes", Kernel.int8Pack(col(vecCol), col("q_scale")))
  }

  /** Signed-byte dot product of two packed code columns ([[GraftRuntime.int8Dot]]). */
  def int8Dot(a: Column, b: Column): Column = Kernel.int8Dot(a, b)

  /** Cosine over packed codes. Quantization scales cancel out of cosine
    * (cos(s_a·a, s_b·b) = cos(a, b)), so this needs only integer dots —
    * three fused byte loops per pair, no float vector in sight. */
  def packedCosine(bytesA: Column, bytesB: Column): Column = {
    val num = int8Dot(bytesA, bytesB).cast("double")
    val den = sqrt(int8Dot(bytesA, bytesA).cast("double")) *
      sqrt(int8Dot(bytesB, bytesB).cast("double"))
    when(den === 0.0, lit(0.0)).otherwise(num / den)
  }

  /** Cosine similarity computed on quantized codes: int dot products
    * scaled back by the two q_scales. Norm error inherits the ≤ scale/2
    * per-element band, so ranking quality degrades gracefully while the
    * candidate vectors move 4× fewer bytes through the shuffle. */
  def quantizedCosine(codesA: Column, scaleA: Column,
                      codesB: Column, scaleB: Column): Column = {
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
        lit(0L), (acc, x) => acc + x).cast("double")
    val num = dot(codesA, codesB) * scaleA * scaleB
    val den = sqrt(dot(codesA, codesA)) * scaleA *
      (sqrt(dot(codesB, codesB)) * scaleB)
    when(den === 0.0, lit(0.0)).otherwise(num / den)
  }
}
