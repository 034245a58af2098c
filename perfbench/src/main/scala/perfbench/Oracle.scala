package perfbench

object Oracle {
  /** Left(first difference) unless the two keyed results are equal. */
  def same[K, V](what: String, got: Map[K, V], want: Map[K, V]): Either[String, Unit] =
    if (got == want) Right(())
    else {
      val keys = (got.keySet ++ want.keySet).toSeq.map(_.toString).sorted
      val k = keys.find(k => got.find(_._1.toString == k).map(_._2) !=
        want.find(_._1.toString == k).map(_._2)).getOrElse("?")
      Left(s"$what differ at $k: got ${got.find(_._1.toString == k).map(_._2)}" +
        s", expected ${want.find(_._1.toString == k).map(_._2)}" +
        s" (${got.size} vs ${want.size} keys)")
    }
}
