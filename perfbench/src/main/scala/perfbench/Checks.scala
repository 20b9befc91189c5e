package perfbench

/** Ground-truth predicates. Expected values always come from the
  * generators, never from the program's output; these functions only
  * compare. Kept free of Spark so each can be shown to fire on a
  * perturbed expectation (ChecksSpec).
  */
object Checks {

  /** A filter removed exactly the planted rows and nothing else. */
  def removedExactly(planted: Set[Long], input: Set[Long], survivors: Set[Long]): Boolean =
    survivors == input -- planted

  /** How many expected ids are not listed exactly once. */
  def notListedOnce(expected: Set[String], listed: Seq[String]): Int = {
    val times = listed.groupBy(identity).map { case (id, xs) => id -> xs.size }
    expected.count(id => times.getOrElse(id, 0) != 1)
  }

  /** Share of planted copies the stage removed. */
  def recall(plantedCopies: Set[Long], removed: Set[Long]): Double =
    if (plantedCopies.isEmpty) 1.0
    else plantedCopies.count(removed.contains).toDouble / plantedCopies.size
}
