package graftbench

/** Equality of two small RDF graphs up to a renaming of blank nodes.
  *
  * Triples are rendered terms (subject, predicate IRI, object); a term that
  * starts with `_:` is a blank node. Blank nodes are first coloured by a few
  * rounds of neighbourhood refinement, then matched by backtracking within
  * colour classes; the final mapping is verified triple by triple.
  */
object Iso {
  type T = (String, String, String)

  private def blank(s: String): Boolean = s.startsWith("_:")

  private def colours(g: Set[T]): Map[String, Int] = {
    val edges = g.toSeq.flatMap { case (s, p, o) =>
      (if (blank(s)) Seq(s -> ("out", p, o)) else Nil) ++ (if (blank(o)) Seq(o -> ("in", p, s)) else Nil)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var c = edges.keys.map(_ -> 0).toMap
    (1 to 4).foreach { _ =>
      c = edges.map { case (x, es) =>
        x -> (c(x), es.map { case (d, p, other) =>
          (d, p, if (blank(other)) c(other).toString else other)
        }.sorted).##
      }
    }
    c
  }

  def isomorphic(a: Set[T], b: Set[T]): Boolean = {
    def ground(g: Set[T]) = g.filter(t => !blank(t._1) && !blank(t._3))
    if (a.size != b.size || ground(a) != ground(b)) return false
    val (ca, cb) = (colours(a), colours(b))
    if (ca.values.toSeq.sorted != cb.values.toSeq.sorted) return false
    val classes = cb.groupBy(_._2).map { case (k, v) => k -> v.keys.toSeq.sorted }
    val order = ca.keys.toSeq.sortBy(x => (classes(ca(x)).size, x))
    val touching = a.toSeq.flatMap(t => Seq(t._1 -> t, t._3 -> t)).filter(x => blank(x._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

    def image(m: Map[String, String], x: String): Option[String] = if (blank(x)) m.get(x) else Some(x)
    def consistent(m: Map[String, String], x: String): Boolean =
      touching(x).forall { case (s, p, o) =>
        (image(m, s), image(m, o)) match {
          case (Some(s2), Some(o2)) => b((s2, p, o2))
          case _                    => true
        }
      }
    def search(i: Int, m: Map[String, String], used: Set[String]): Boolean =
      if (i == order.size) a.forall { case (s, p, o) => b((image(m, s).get, p, image(m, o).get)) }
      else {
        val x = order(i)
        classes(ca(x)).exists { y =>
          !used(y) && { val m2 = m.updated(x, y); consistent(m2, x) && search(i + 1, m2, used + y) }
        }
      }
    search(0, Map.empty, Set.empty)
  }
}
