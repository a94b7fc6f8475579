package graft

import graft.functions.FloatDotProduct
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension entry point — wires graft's native Catalyst
  * expressions into SQL. Sessions built by `LocalSpark.sqlSurface` carry
  * it; elsewhere use `--conf spark.sql.extensions=graft.GraftExtensions`.
  * After that `SELECT vec_dot(a.embedding, b.embedding)` works from plain
  * SQL with the same codegen'd implementation the DataFrame API uses via
  * `VectorOps.dot`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // window top-k (`row_number() <= k`, rn dropped) → native bounded-heap
    // TopKPerKey: no per-partition sort, no window evaluation
    e.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // ADT grammar (CREATE TYPE / constructors / MATCH…END) in front of the
    // stock parser — the reference's typechecked sum-type SQL surface.
    e.injectParser((session, delegate) => new graft.adt.AdtParser(session, delegate))
    e.injectFunction((
      new FunctionIdentifier("z_interleave"),
      new ExpressionInfo(classOf[graft.functions.InterleaveBits].getName, "z_interleave"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"z_interleave takes 2 arguments, got ${children.length}")
        graft.functions.InterleaveBits(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"vec_dot takes 2 arguments, got ${children.length}")
        FloatDotProduct(children.head, children(1))
      }))
    // generator (UDTF) surface: SELECT word_shingles(split(text,' '), 3)
    // expands each row into its word-n-gram rows, like explode
    e.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[graft.functions.WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"word_shingles takes 2 arguments, got ${children.length}")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_shingles: n must be an integer literal, got $other")
        }
        graft.functions.WordShingles(children.head, n)
      }))
    // round-5 per-row sketch surface, same expressions the dedup/quality
    // pipelines run — from SQL: shingle_hashes(arr, n), minhash_sig(hs),
    // simhash_sig(arr), char_entropy(s), token_counts(arr)
    e.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[graft.functions.ShingleHashSet].getName, "shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"shingle_hashes takes 2 arguments, got ${children.length}")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"shingle_hashes: n must be an integer literal, got $other")
        }
        graft.functions.ShingleHashSet(children.head, n)
      }))
    def inject1(name: String, clazz: Class[_], mk: Expression => Expression): Unit =
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 1, s"$name takes 1 argument, got ${children.length}")
          mk(children.head)
        }))
    inject1("minhash_sig", classOf[graft.functions.MinHashSig], graft.functions.MinHashSig(_))
    inject1("simhash_sig", classOf[graft.functions.SimHashSig], graft.functions.SimHashSig(_))
    inject1("char_entropy", classOf[graft.functions.CharEntropy], graft.functions.CharEntropy(_))
    inject1("token_counts", classOf[graft.functions.TokenCounts], graft.functions.TokenCounts(_))
    // round-7: real BPE token budget from SQL — bpe_token_count(text)
    inject1("bpe_token_count", classOf[graft.functions.BpeTokenCount],
            graft.functions.BpeTokenCount(_))
  }
}
