from haf_plug_play_spark.plugs.framework import PLUGS, Plug  # noqa: F401
