package perfbench

/** The reference implementations on the repository's fixture graphs
  * (FIXTURES.md): `sample1` has 2 triangles, `two_components` has two
  * components of size 3 and one triangle, `sample2` has one 3-cycle and
  * a chain tail. Returns the problems found. */
object SelfTest {
  private def graph(edges: String): (Int, Array[(Int, Int)]) = {
    val pairs = edges.split(",").map(_.trim).map { e => val Array(a, b) = e.split("->"); (a.head - 'a', b.head - 'a') }
    (pairs.flatMap(p => Seq(p._1, p._2)).max + 1, pairs)
  }

  def run(): Seq[String] = {
    val (n1, sample1) = graph("a->b, a->c, b->d, b->c, b->e, e->d, b->a")
    val (n2, two) = graph("a->b, b->c, c->a, d->e, d->f")
    val (n3, sample2) = graph("a->b, b->c, c->a, c->d, d->e, e->f")
    val problems = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) problems += s"$what: got $got, want $want"
    expect("sample1 triangles", Ref.triangles(n1, sample1), 2L)
    expect("two_components triangles", Ref.triangles(n2, two), 1L)
    expect("two_components component sizes",
      Ref.weakComponents(n2, two).groupBy(identity).values.map(_.length).toSeq.sorted, Seq(3, 3))
    val scc = Ref.tarjan(n3, new Ref.Adj(n3, sample2, reverse = false))
    expect("sample2 SCC sizes", scc.groupBy(identity).values.map(_.length).toSeq.sorted, Seq(1, 1, 1, 3))
    expect("sample2 BFS from a", Ref.bfs(new Ref.Adj(n3, sample2, reverse = false), 0).toSeq, Seq(0, 1, 2, 3, 4, 5))
    val pr = Ref.pageRank(new Ref.Adj(n1, sample1, reverse = false), 20)
    expect("sample1 PageRank mass", math.abs(pr.sum - 1.0) < 1e-12, true)
    expect("partition check", Ref.samePartition(Array(7L, 7L, 9L), Array(0, 0, 1)), true)
    expect("partition check (split)", Ref.samePartition(Array(7L, 8L, 9L), Array(0, 0, 1)), false)
    problems.result()
  }
}
