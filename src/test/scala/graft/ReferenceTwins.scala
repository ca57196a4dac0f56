package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative semantics references for the fused kernels: the readable
  * spellings the DuckDB twins replay, which no query path runs. The
  * equivalence specs (DedupSpec, PipelineSpec) compare each fused
  * expression against its twin here. */
object ReferenceTwins {

  /** The declarative semantics reference for
    * [[graft.operators.DedupOps.shingles3]] (quadratic; DedupSpec
    * asserts equivalence). */
  def shingles3Declarative(text: Column): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - 2, lit(1))),
      i => text.substr(i, lit(3))))

  /** The declarative semantics reference for
    * [[graft.operators.DedupOps.portableHash]] — the spelling the DuckDB
    * twins replay (DedupSpec asserts value-equality incl. unicode and
    * empty/null). */
  def portableHashDeclarative(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The declarative lane spelling of the PORTABLE MinHash signature —
    * the shape the DuckDB twin replays per lane (DedupSpec asserts
    * lane-equality with the fused
    * [[graft.functions.PortableMinHashSignature]]). */
  def portableSignatureDeclarative(ss: Column,
      nHashes: Int): Column =
    array((0 until nHashes).map(j => array_min(transform(ss,
      s => portableHashDeclarative(concat(lit(j), lit(":"), s))))): _*)

  /** The declarative PQ encode of a
    * [[graft.operators.PipelineOps.PqModel]]: the m×k
    * slice+l2sq+argmin spelling of its fused `codesCol` (PipelineSpec
    * asserts equivalence). */
  final class PqTwin(pq: graft.operators.PipelineOps.PqModel) {
    import pq._

    /** PQ code of subspace `s`: argmin centroid, tie → lowest id. */
    def codeCol(v: org.apache.spark.sql.Column,
        s: Int): org.apache.spark.sql.Column = {
      val vs = slice(v, s * sub + 1, sub)
      array_min(array((0 until k).map(c =>
        struct(sliceD2(vs, book(s)(c)).as("d2"), lit(c).as("cid"))): _*))
        .getField("cid")
    }

    /** the declarative spelling of `codesCol`. */
    def codesColDeclarative(
        v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array((0 until m).map(codeCol(v, _)): _*)
  }
}
