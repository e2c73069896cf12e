package graft.labels

import org.scalatest.funsuite.AnyFunSuite

/** Golden cases ported from
  * `/root/reference/broker/protocol/label_extensions_test.go`
  * (TestSelectorParsingCases :372-465, TestSelectorMatchingCases :288-332).
  */
class LabelsSpec extends AnyFunSuite {

  private def sel(s: String): LabelSelector = LabelSelector.mustParse(s)
  private def sorted(s: LabelSet): Vector[(String, String, Boolean)] =
    s.labels.map(l => (l.name, l.value, l.prefix)).sorted

  test("selector parsing golden cases") {
    assert(sel("foo = bar") ==
      LabelSelector(LabelSet("foo", "bar"), LabelSet.empty))
    assert(sel("foo:prefix =bar") ==
      LabelSelector(LabelSet("foo:prefix", "bar"), LabelSet.empty))
    assert(sel("foo != bar") ==
      LabelSelector(LabelSet.empty, LabelSet("foo", "bar")))
    assert(sel("foo ") == LabelSelector(LabelSet("foo", ""), LabelSet.empty))
    assert(sel(" !foo") == LabelSelector(LabelSet.empty, LabelSet("foo", "")))

    assert(sorted(sel(" foo in (bing, baz,bar)").include) ==
      sorted(LabelSet("foo", "bar", "foo", "baz", "foo", "bing")))
    assert(sorted(sel(" foo not in ( pear, apple )").exclude) ==
      sorted(LabelSet("foo", "apple", "foo", "pear")))

    val composite = sel("foo==bar, baz !=bing ,apple:prefix in (fruit, banana)")
    assert(sorted(composite.include) ==
      sorted(LabelSet("apple:prefix", "banana", "apple:prefix", "fruit", "foo", "bar")))
    assert(sorted(composite.exclude) == sorted(LabelSet("baz", "bing")))

    val multi = sel("!foo,baz,bing:prefix not in (thing-one, thing-2),!bar,")
    assert(sorted(multi.include) == sorted(LabelSet("baz", "")))
    assert(sorted(multi.exclude) ==
      sorted(LabelSet("bar", "", "bing:prefix", "thing-2", "bing:prefix", "thing-one", "foo", "")))

    // Label values may include '='.
    val eq = sel("foo = ba=ar, baz=bi=ngo,exc!=who=ops")
    assert(sorted(eq.include) == sorted(LabelSet("foo", "ba=ar", "baz", "bi=ngo")))
    assert(sorted(eq.exclude) == sorted(LabelSet("exc", "who=ops")))

    val eqSets = sel("foo in (bi=ng,ba=ar), exc notin (who=ops,oth=er)")
    assert(sorted(eqSets.include) == sorted(LabelSet("foo", "bi=ng", "foo", "ba=ar")))
    assert(sorted(eqSets.exclude) == sorted(LabelSet("exc", "who=ops", "exc", "oth=er")))
  }

  test("selector parsing error cases") {
    assert(LabelSelector.parse("apple,banana err in (bar)").isLeft)
    assert(LabelSelector.parse("apple,banana in (bar,err baz)").isLeft)
    assert(LabelSelector.parse("ban=ana in (bar)").isLeft)
  }

  test("selector matching golden cases") {
    val s = LabelSelector(
      LabelSet("inc-1:prefix", "a-val/", "inc-2", "", "inc-3", "val-1", "inc-3", "val-2"),
      LabelSet("exc-1", "", "exc-2", "val-3", "exc-2", "val-4"))

    assert(!s.matches(LabelSet()))
    assert(s.matches(LabelSet("foo", "bar", "inc-1", "a-val/a/1", "inc-2", "any", "inc-3", "val-1")))
    assert(s.matches(LabelSet("foo", "bar", "inc-1", "a-val/b/2", "inc-2", "foo", "inc-3", "val-1")))
    assert(s.matches(LabelSet("foo", "bar", "inc-1", "a-val/c/3", "inc-2", "any", "inc-3", "val-2")))

    assert(!s.matches(LabelSet("foo", "bar", "inc-1", "bad-val/4", "inc-2", "any", "inc-3", "val-1")))
    assert(!s.matches(LabelSet("foo", "bar", "inc-1", "a-val/5", "inc-3", "val-1")))
    assert(!s.matches(LabelSet("foo", "bar", "inc-1", "a-val/6", "inc-2", "any", "inc-3", "val-other")))

    assert(!s.matches(LabelSet("exc-1", "any", "foo", "bar", "inc-1", "a-val/a/7", "inc-2", "any", "inc-3", "val-1")))
    assert(!s.matches(LabelSet("exc-2", "val-4", "foo", "bar", "inc-1", "a-val/8", "inc-2", "any", "inc-3", "val-1")))
    assert(s.matches(LabelSet("exc-2", "val-ok", "foo", "bar", "inc-1", "a-val/9/9", "inc-2", "any", "inc-3", "val-1")))

    val excludeOnly = LabelSelector(LabelSet.empty, s.exclude)
    assert(excludeOnly.matches(LabelSet()))
    assert(excludeOnly.matches(LabelSet("foo", "bar")))
    assert(excludeOnly.matches(LabelSet("exc-2", "val-ok", "foo", "bar")))
    assert(!excludeOnly.matches(LabelSet("exc-2", "val-3", "foo", "bar")))
    assert(!excludeOnly.matches(LabelSet("exc-1", "any", "foo", "bar")))
  }
}
