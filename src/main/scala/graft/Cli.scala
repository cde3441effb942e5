package graft

/** Strict command-line parsing shared by the mains: anything a main
  * does not recognise fails loudly instead of running with defaults.
  */
private[graft] object Cli {

  /** A parsed command line: positionals in order, value flags with
    * their values, and the boolean flags that were present.
    */
  final case class Args(positional: Seq[String], values: Map[String, String],
      flags: Set[String])

  /** Parses `args` in any order. A key in `valueKeys` takes the next
    * argument as its value; a key in `flagKeys` stands alone; any other
    * argument starting with `-` is refused, as are a value key with no
    * value, a repeated key, and a positional count outside `positional`.
    */
  def parse(args: Seq[String], usage: String, positional: Range,
      valueKeys: Set[String] = Set.empty,
      flagKeys: Set[String] = Set.empty): Args = {
    val pos = Seq.newBuilder[String]
    val values = scala.collection.mutable.Map.empty[String, String]
    val flags = scala.collection.mutable.Set.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(!values.contains(a) && !flags.contains(a),
        s"duplicate argument: $a\n$usage")
      if (valueKeys.contains(a)) {
        require(i + 1 < args.length, s"missing value for $a\n$usage")
        values(a) = args(i + 1); i += 2
      } else if (flagKeys.contains(a)) {
        flags += a; i += 1
      } else {
        require(!a.startsWith("-"), s"unknown argument: $a\n$usage")
        pos += a; i += 1
      }
    }
    val p = pos.result()
    require(positional.contains(p.size),
      s"wrong number of positional arguments (${p.size})\n$usage")
    Args(p, values.toMap, flags.toSet)
  }

  /** The names a comma-separated `list` selects from `known`, in
    * `known`'s order. Entries are trimmed, empty entries and repeats
    * are dropped. An unknown name, or a list that names nothing, is
    * refused: a typo must not run an empty suite that reads as a
    * 0-second bench or a green verify. `what` names the list in errors.
    */
  def subset(what: String, list: String, known: Seq[String]): Seq[String] = {
    val want = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
    require(want.nonEmpty, s"$what names no entries: '$list'")
    val unknown = want -- known
    require(unknown.isEmpty,
      s"$what names unknown entries: ${unknown.toSeq.sorted.mkString(", ")}")
    known.filter(want)
  }

  /** [[subset]] of the environment variable `env`, or all of `known`
    * when it is unset.
    */
  def envSubset(env: String, known: Seq[String]): Seq[String] =
    sys.env.get(env).fold(known)(subset(env, _, known))
}
