package graft.conditions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's condition language — same vocabulary as the reference's
  * predicate DSL (`src/clojure/mirabelle/action/condition.clj:4-22`):
  * `pos? neg? zero? > >= < <= = not= true always-true contains absent
  * regex nil? not-nil?` with `and`/`or` nesting, fields addressable by
  * nested path (`condition.clj:57-64`).
  *
  * Compiles straight to a Catalyst [[Column]] — predicates constant-fold,
  * push down to parquet scans and participate in whole-stage codegen for
  * free, which is the Spark-native replacement for the reference's memoized
  * closure compilation (`condition.clj:67-92`).
  */
sealed trait Condition {
  /** Catalyst predicate for this condition. */
  def column: Column = Condition.compile(this)
}

object Condition {
  /** Field reference: a top-level column or a nested path such as
    * `attributes.quantile` (reference path vectors, `condition.clj:57-64`).
    */
  final case class Field(path: Seq[String]) {
    require(path.nonEmpty, "empty field path")
    def column: Column =
      path.tail.foldLeft(col(path.head))((c, k) => c.getItem(k))
  }
  object Field {
    def apply(name: String): Field = new Field(name.split('.').toSeq)
  }

  final case class Gt(field: Field, value: Any) extends Condition
  final case class Gte(field: Field, value: Any) extends Condition
  final case class Lt(field: Field, value: Any) extends Condition
  final case class Lte(field: Field, value: Any) extends Condition
  final case class Eq(field: Field, value: Any) extends Condition
  final case class NotEq(field: Field, value: Any) extends Condition
  final case class Pos(field: Field) extends Condition
  final case class Neg(field: Field) extends Condition
  final case class Zero(field: Field) extends Condition
  final case class IsNil(field: Field) extends Condition
  final case class NotNil(field: Field) extends Condition
  /** Sequence field contains the value (`condition.clj:12`). */
  final case class Contains(field: Field, value: Any) extends Condition
  /** Sequence field does NOT contain the value (`condition.clj:13`). */
  final case class Absent(field: Field, value: Any) extends Condition
  /** Full-string regex match — the reference uses `re-matches`
    * (`condition.clj:19`), so the pattern is anchored here.
    */
  final case class Regex(field: Field, pattern: String) extends Condition
  case object AlwaysTrue extends Condition
  final case class And(conditions: Seq[Condition]) extends Condition
  final case class Or(conditions: Seq[Condition]) extends Condition
  object And { def of(cs: Condition*): And = And(cs) }
  object Or { def of(cs: Condition*): Or = Or(cs) }

  def compile(c: Condition): Column = compileWith(c, _.column)

  /** Compile against a custom field resolver, so the same condition
    * vocabulary evaluates in non-top-level scopes — e.g. against struct
    * elements inside an array `filter` lambda (`coll-where` runs the full
    * language over a window payload, `action.clj:115-137`).
    */
  def compileWith(c: Condition, resolve: Field => Column): Column = c match {
    case Gt(f, v)       => resolve(f) > lit(v)
    case Gte(f, v)      => resolve(f) >= lit(v)
    case Lt(f, v)       => resolve(f) < lit(v)
    case Lte(f, v)      => resolve(f) <= lit(v)
    case Eq(f, v)       => resolve(f) === lit(v)
    // null-safe: the reference's not= (Clojure `not=`, condition.clj:22)
    // returns true when the field is nil and the literal isn't — plain
    // !(=== ) would yield NULL and silently drop those events.
    case NotEq(f, v)    => !(resolve(f) <=> lit(v))
    case Pos(f)         => resolve(f) > lit(0)
    case Neg(f)         => resolve(f) < lit(0)
    case Zero(f)        => resolve(f) === lit(0)
    case IsNil(f)       => resolve(f).isNull
    case NotNil(f)      => resolve(f).isNotNull
    case Contains(f, v) => array_contains(resolve(f), v)
    case Absent(f, v)   => !coalesce(array_contains(resolve(f), v), lit(false))
    case Regex(f, p)    => resolve(f).rlike(anchored(p))
    case AlwaysTrue     => lit(true)
    case And(cs)        => cs.map(compileWith(_, resolve)).reduceLeft(_ && _)
    case Or(cs)         => cs.map(compileWith(_, resolve)).reduceLeft(_ || _)
  }

  // Full-string semantics like the reference's `re-matches`
  // (condition.clj:19). The non-capturing group is load-bearing:
  // "^a|b$" would mean (^a)|(b$), not ^(a|b)$.
  private def anchored(p: String): String = "^(?:" + p + ")$"

  /** Parse the serialized vector form used by the IR, mirroring the
    * reference's EDN shape (`condition.clj:30-48`):
    * `["and" [">" "metric" 10] ["regex" "service" "web-.*"]]`.
    * Field names may be dotted paths or list-of-segments.
    */
  def parse(v: Any): Condition = v match {
    case s: Seq[_] =>
      val op = s.head.toString.stripPrefix(":")
      def field: Field = s(1) match {
        case p: Seq[_] => new Field(p.map(_.toString))
        case other     => Field(other.toString.stripPrefix(":"))
      }
      op match {
        case "and"                  => And(s.tail.map(parse))
        case "or"                   => Or(s.tail.map(parse))
        case ">"                    => Gt(field, s(2))
        case ">="                   => Gte(field, s(2))
        case "<"                    => Lt(field, s(2))
        case "<="                   => Lte(field, s(2))
        case "=" | "=="             => Eq(field, s(2))
        case "not="                 => NotEq(field, s(2))
        case "pos?"                 => Pos(field)
        case "neg?"                 => Neg(field)
        case "zero?"                => Zero(field)
        case "nil?"                 => IsNil(field)
        case "not-nil?"             => NotNil(field)
        case "contains"             => Contains(field, s(2))
        case "absent"               => Absent(field, s(2))
        case "regex"                => Regex(field, s(2).toString)
        case "true" | "always-true" => AlwaysTrue
        case other => throw new IllegalArgumentException(s"unknown condition op: $other")
      }
    case other => throw new IllegalArgumentException(s"condition must be a sequence, got: $other")
  }
}
