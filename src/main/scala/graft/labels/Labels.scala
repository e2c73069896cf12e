package graft.labels

import scala.util.matching.Regex

/** Label metadata model + selector grammar.
  *
  * Semantics follow the reference
  * (`/root/reference/broker/protocol/label_extensions.go`):
  *  - a LabelSet is an ordered set of (name, value) pairs; a name may
  *    carry multiple values (`label_extensions.go:60-120`)
  *  - a LabelSelector has include/exclude sets; empty selector value is
  *    an existence test; `name:prefix` matches on value prefix; values
  *    in parentheses are IN lists (`label_extensions.go:246-340`)
  *  - grammar: `foo=bar, baz in (a,b), !absent, name:prefix=x,
  *    env notin (...)`, invariant to reasonable spacing
  *    (`label_extensions.go:420-501`)
  *
  * In the Spark engine, label selectors resolve journals/tables at plan
  * time (partition pruning over catalog metadata) and filter
  * label-bearing DataFrames through `matches_selector`
  * ([[graft.plans.SelectorExtension]]), which Catalyst unfolds into
  * native map predicates.
  */
final case class Label(name: String, value: String, prefix: Boolean = false)

final case class LabelSet(labels: Vector[Label]) {
  /** Sorted, de-duplicated (name, value) view. */
  lazy val sorted: Vector[Label] =
    labels.distinct.sortBy(l => (l.name, l.value))

  lazy val byName: Map[String, Vector[String]] =
    labels.groupBy(_.name).map { case (n, ls) => n -> ls.map(_.value).sorted }

  def valueOf(name: String): Option[String] = byName.get(name).flatMap(_.headOption)
  def add(name: String, value: String): LabelSet =
    LabelSet(labels :+ Label(name, value))
}

object LabelSet {
  val empty: LabelSet = LabelSet(Vector.empty)
  /** Convenience: LabelSet("name", "value", ...). A "name:prefix" name
    * yields a prefix-match label (selector context only).
    */
  def apply(nv: String*): LabelSet = {
    require(nv.length % 2 == 0, "expect Name/Value pairs")
    LabelSet(nv.grouped(2).map { p =>
      val prefix = p(0).endsWith(":prefix")
      Label(if (prefix) p(0).dropRight(":prefix".length) else p(0), p(1), prefix)
    }.toVector)
  }
}

final case class LabelSelector(include: LabelSet, exclude: LabelSet) {

  /** True iff no excluded label matches and every included name group
    * matches (label_extensions.go:246-253).
    */
  def matches(set: LabelSet): Boolean =
    !anyGroupMatches(exclude, set) && allGroupsMatch(include, set)

  private def groupMatches(vals: Vector[Label], set: LabelSet): Boolean =
    set.byName.get(vals.head.name) match {
      case None => false
      case Some(setVals) =>
        vals.exists { l =>
          l.value.isEmpty ||
            (if (l.prefix) setVals.exists(_.startsWith(l.value))
             else setVals.contains(l.value))
        }
    }

  private def groups(s: LabelSet): Iterable[Vector[Label]] =
    s.labels.groupBy(l => (l.name, l.prefix)).values

  private def anyGroupMatches(s: LabelSet, set: LabelSet): Boolean =
    groups(s).exists(g => groupMatches(g, set))
  private def allGroupsMatch(s: LabelSet, set: LabelSet): Boolean =
    groups(s).forall(g => groupMatches(g, set))
}

object LabelSelector {
  val empty: LabelSelector = LabelSelector(LabelSet.empty, LabelSet.empty)

  // Grammar regexes mirror label_extensions.go:489-501.
  private val tokenSymbols = Regex.quote("-_+/.")
  private val pathSymbols = Regex.quote("-_+/.=%")
  private val reToken = s""" ?([\\p{L}\\p{N}$tokenSymbols]{2,}(?::prefix)?)"""
  private val rePath = s""" ?([\\p{L}\\p{N}$pathSymbols]*)"""
  private val reCommaOrEnd = """ ?(?:,|$)"""
  private val reParen = """ ?\(([^)]+)\)"""

  private val reEqual = s"^$reToken ?=?=$rePath$reCommaOrEnd".r
  private val reNotEqual = s"^$reToken ?!=$rePath$reCommaOrEnd".r
  private val reSetIn = s"^$reToken in$reParen$reCommaOrEnd".r
  private val reSetNotIn = s"^$reToken not ?in$reParen$reCommaOrEnd".r
  private val reSetExists = s"^$reToken$reCommaOrEnd".r
  private val reSetNotExists = s"^ ?!$reToken$reCommaOrEnd".r
  private val reSetValue = s"^$rePath$reCommaOrEnd".r

  private def mkLabel(rawName: String, value: String): Label = {
    val prefix = rawName.endsWith(":prefix")
    Label(if (prefix) rawName.dropRight(":prefix".length) else rawName,
      value, prefix)
  }

  /** Parse the selector grammar; Left(error) on failure. */
  def parse(input: String): Either[String, LabelSelector] = {
    var s = input
    var inc = Vector.empty[Label]
    var exc = Vector.empty[Label]

    def setParts(name: String, body: String): Either[String, Vector[Label]] = {
      var rest = body
      var out = Vector.empty[Label]
      while (rest.nonEmpty) {
        reSetValue.findFirstMatchIn(rest) match {
          case Some(m) if m.end > 0 =>
            out :+= mkLabel(name, m.group(1))
            rest = rest.substring(m.end)
          case _ =>
            return Left(s"could not match '$rest' to a label selector set expression")
        }
      }
      Right(out)
    }

    while (s.nonEmpty) {
      val step: Either[String, Int] =
        reEqual.findFirstMatchIn(s).map { m =>
          inc :+= mkLabel(m.group(1), m.group(2)); Right(m.end)
        }.orElse(reNotEqual.findFirstMatchIn(s).map { m =>
          exc :+= mkLabel(m.group(1), m.group(2)); Right(m.end)
        }).orElse(reSetIn.findFirstMatchIn(s).map { m =>
          setParts(m.group(1), m.group(2)).map { ls => inc ++= ls; m.end }
        }).orElse(reSetNotIn.findFirstMatchIn(s).map { m =>
          setParts(m.group(1), m.group(2)).map { ls => exc ++= ls; m.end }
        }).orElse(reSetNotExists.findFirstMatchIn(s).map { m =>
          exc :+= mkLabel(m.group(1), ""); Right(m.end)
        }).orElse(reSetExists.findFirstMatchIn(s).map { m =>
          inc :+= mkLabel(m.group(1), ""); Right(m.end)
        }).getOrElse(
          Left(s"could not match '$s' to a label selector expression"))

      step match {
        case Left(err) => return Left(err)
        case Right(n) => s = s.substring(n)
      }
    }
    Right(LabelSelector(LabelSet(inc), LabelSet(exc)))
  }

  def mustParse(s: String): LabelSelector =
    parse(s).fold(e => throw new IllegalArgumentException(e), identity)
}
