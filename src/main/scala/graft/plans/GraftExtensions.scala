package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point. Installed two ways:
  *
  *  1. plugin path — [[graft.Sessions.local]] builds every session of
  *     this repo `withExtensions(new GraftExtensions)`, so its functions,
  *     rules and strategy are there from the start and in every
  *     `newSession()`; a cluster `spark-submit` gets the same with
  *     `spark.sql.extensions=graft.plans.GraftExtensions` (README);
  *  2. runtime path — [[GraftFunctions.register]] (and
  *     [[TopKPerKey.register]] for the top-k rules), which the library
  *     calls itself before it uses them, for a session built outside
  *     this repo without the plugin. Both are idempotent.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.definitions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    // whole-operator stack (§2.10(c)): logical TopKPerKey + combine rule
    // + two-phase physical planning
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectOptimizerRule(_ => CombineTopK)
    ext.injectOptimizerRule(_ => WindowTopKRewrite)
    // rewrite rules over built-in expressions
    ext.injectOptimizerRule(_ => BoundLevenshtein)
    ext.injectOptimizerRule(_ => RepairTsPushdown)
  }
}

object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  // --- tokenizer-model serialization for the SQL-text surface ---
  // A trained BPE model is metadata-sized (alphabet + merges), so it can
  // ride a SQL string literal: merges as l␟r records joined by ␞, the
  // vocabulary as sym␟id records in id order. The two control separators
  // cannot appear in symbols (symbols come from whitespace-split corpus
  // words; serialization rejects the pathological case loudly).

  private final val RecSep = '\u001e'
  private final val FieldSep = '\u001f'

  /** Serialize a merge list for [[mergesFromSpec]] / `bpe_*` SQL args. */
  def mergesToSpec(merges: Seq[(String, String)]): String = {
    require(merges.forall { case (l, r) =>
      !(l + r).exists(c => c == RecSep || c == FieldSep) },
      "merge symbols may not contain U+001E/U+001F")
    merges.map { case (l, r) => s"$l$FieldSep$r" }.mkString(RecSep.toString)
  }

  /** Parse a [[mergesToSpec]] string. */
  def mergesFromSpec(spec: String): Seq[(String, String)] =
    if (spec.isEmpty) Seq.empty
    else spec.split(RecSep).toSeq.map { p =>
      val i = p.indexOf(FieldSep)
      require(i >= 0, s"malformed merge record: $p")
      (p.substring(0, i), p.substring(i + 1))
    }

  /** Serialize a vocabulary for [[vocabFromSpec]] / `bpe_encode_ids`. */
  def vocabToSpec(vocab: Map[String, Int]): String = {
    require(vocab.keys.forall(s =>
      !s.exists(c => c == RecSep || c == FieldSep)),
      "vocab symbols may not contain U+001E/U+001F")
    vocab.toSeq.sortBy(_._2)
      .map { case (s, i) => s"$s$FieldSep$i" }.mkString(RecSep.toString)
  }

  /** Parse a [[vocabToSpec]] string. */
  def vocabFromSpec(spec: String): Map[String, Int] =
    if (spec.isEmpty) Map.empty
    else spec.split(RecSep).iterator.map { p =>
      val i = p.lastIndexOf(FieldSep)
      require(i >= 0, s"malformed vocab record: $p")
      (p.substring(0, i), p.substring(i + 1).toInt)
    }.toMap

  private def foldableString(e: Expression, what: String): String = e match {
    case x if x.foldable &&
      x.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] =>
      String.valueOf(x.eval(null))
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def foldableBool(e: Expression, what: String): Boolean = e match {
    case x if x.foldable &&
      x.dataType == org.apache.spark.sql.types.BooleanType =>
      x.eval(null).asInstanceOf[Boolean]
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  /** The kernels take ALREADY-normalized text; the SQL surface wraps
    * the argument in the engine's canonical normalization
    * (lower∘trim∘collapse-whitespace, restating
    * [[graft.functions.TextAnalysis.normalizeText]] as raw catalyst
    * expressions — the Column bridge would hand the analyzer an
    * unresolvable column node), mirroring the Scala wrappers
    * ([[graft.operators.BpeTrain.subwordCount]]). */
  private def normalized(child: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Lower, RegExpReplace, StringTrim}
    Lower(StringTrim(RegExpReplace(child, Literal("\\s+"), Literal(" "))))
  }

  /** All engine-native functions. */
  val definitions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    // tokenizer kernels — the SQL-text face of the token pipeline:
    // bpe_subword_count(text, merges_spec [, byte_level]) and
    // bpe_encode_ids(text, merges_spec, vocab_spec [, byte_level]),
    // the trained model riding the query text as literals (q136)
    (FunctionIdentifier("bpe_subword_count"),
      new ExpressionInfo(classOf[BpeSubwordCount].getName, "bpe_subword_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3,
          s"bpe_subword_count takes (text, merges[, byte_level]), got ${children.length} args")
        BpeSubwordCount(normalized(children(0)),
          mergesFromSpec(foldableString(children(1), "bpe_subword_count merges")),
          if (children.length == 3)
            foldableBool(children(2), "bpe_subword_count byte_level")
          else false)
      }),
    (FunctionIdentifier("bpe_encode_ids"),
      new ExpressionInfo(classOf[BpeEncodeIds].getName, "bpe_encode_ids"),
      (children: Seq[Expression]) => {
        require(children.length == 3 || children.length == 4,
          s"bpe_encode_ids takes (text, merges, vocab[, byte_level]), got ${children.length} args")
        BpeEncodeIds(normalized(children(0)),
          mergesFromSpec(foldableString(children(1), "bpe_encode_ids merges")),
          vocabFromSpec(foldableString(children(2), "bpe_encode_ids vocab")),
          if (children.length == 4)
            foldableBool(children(3), "bpe_encode_ids byte_level")
          else false)
      }),
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children(0), children(1))),
    (FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (children: Seq[Expression]) => UnicodeNormalize.fromChildren(children)),
    // Spark ships BloomFilterMightContain (with doGenCode) for its
    // runtime-filter rule but does not register it as a SQL-callable
    // function; surfacing it by name lets the engine's Bloom semi-join
    // probe run as a native codegen'd predicate instead of a closure udf
    (FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))

  /** Idempotent runtime registration into an existing session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    definitions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident))
        registry.registerFunction(ident, info, builder)
    }
  }
}
