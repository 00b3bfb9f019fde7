package graft.operators

/** The text families' normalizer of a `text` column (lowercase, trim,
  * one space per whitespace run) in Spark SQL and its DuckDB twin. */
private[operators] object TextNorm {
  val normSpark = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
  val normDuck = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
}
