package perfbench

import java.nio.file.Paths

/** Proof that each in-process correctness check fails on an injected
  * wrong row and passes on the right answer. Returns the exit code. */
object SelfTest {
  def run(dir: String): Int = {
    var bad = 0
    def expect(what: String, res: Option[String], fail: Boolean): Unit = {
      val ok = res.isDefined == fail
      if (!ok) bad += 1
      println(s"${if (ok) "PASS" else "FAIL"} $what -> ${res.getOrElse("accepted")}")
    }

    val r = new Rng(1, "selftest")
    val model = (0 until 50).map(i => MetaRow.random(r, MetaRow.key(i), 0L))
    expect("rows: the model itself", Checks.rows(model, model.reverse), fail = false)
    expect("rows: one changed score", Checks.rows(model, model.updated(7, model(7).copy(score = 0.5))), fail = true)
    expect("rows: one changed tag list", Checks.rows(model, model.updated(3, model(3).copy(tags = "x"))), fail = true)
    expect("rows: one row missing", Checks.rows(model, model.tail), fail = true)
    expect("rows: one row returned twice", Checks.rows(model, model :+ model.head), fail = true)
    expect("rows: an absent key returned", Checks.rows(model.tail, model), fail = true)

    val c = Gen.corpus(3, 2000, 0.1, 0.1, Paths.get(dir))
    val right = c.texts.indices.filter(i => c.group(i) == i).map(_.toLong)
    expect("corpus: one document per original", Checks.corpus(right, c), fail = false)
    val copy = c.texts.indices.find(i => !c.variant(i) && c.group(i) != i).get
    expect("corpus: an exact copy kept too", Checks.corpus(right :+ copy.toLong, c), fail = true)
    val near = c.texts.indices.find(c.variant).get
    expect("corpus: a planted near-duplicate kept too", Checks.corpus(right :+ near.toLong, c), fail = true)
    expect("corpus: an unknown doc_id", Checks.corpus(right :+ 99999L, c), fail = true)
    if (bad == 0) 0 else 1
  }
}
