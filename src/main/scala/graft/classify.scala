package graft

/** Constants of the boilerplate classifier shared by its implementations:
  * the `extract_spans` expression ([[graft.plans.ExtractExpression]]), the
  * golden [[ReferenceOracle]] and the DuckDB oracle SQL built in
  * queries.scala. The keep rules themselves live in the expression
  * (SURVEY.md §2C).
  */
object Classify {

  /** Small fixed stopword list — the text-density signal. */
  val Stopwords: Set[String] = Set(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "from", "this", "that", "be")
}
